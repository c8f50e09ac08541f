package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Checkpoints.StageOps
import graft.io.EventIO
import graft.model.{KlioJobRef, KlioMessage, KlioWire}
import graft.multimodal.Multimodal
import graft.operators.{HandleKlio, Prelude}

/** Oracle-gated coverage for the operator families that previously only had
  * unit-test coverage: audit-log append, the wire codec (v1 upgrade +
  * non-klio lifting + encode/decode fidelity), the handle-klio UDF wrapper
  * (error → drop channel, retries), multimodal binary-column plumbing, and
  * the BigQuery-style event input. Every query runs the REAL operators over
  * driver tables and reduces to engine-exact integers/strings.
  */
object OpsQueries {

  /** KlioUpdateAuditLog (helpers.py:433-474) through two jobs with
    * deterministic timestamps; the provenance trail is exploded so order
    * and content of every entry is hash-checked.
    */
  def p3AuditLog(s: SparkSession, dir: String): DataFrame = {
    val msgs = Tables.events(s, dir)
      .filter(col("event_id") < 200)
      .select(KlioWire.newMessageColumns(col("event_id")): _*)
    val a = Prelude.updateAuditLog(msgs, KlioJobRef("job-a", "proj-a"),
      to_timestamp(lit("2026-01-01 00:00:00")))
    val b = Prelude.updateAuditLog(a, KlioJobRef("job-b", "proj-b"),
      to_timestamp(lit("2026-01-02 12:30:00")))
    b.select(col("element"),
        posexplode(col("metadata.jobAuditLog")).as(Seq("idx", "entry")))
      .select(col("element"), col("idx"),
        col("entry.jobName").as("job_name"),
        col("entry.gcpProject").as("project"),
        col("entry.timestamp").as("ts"))
      .orderBy(col("element"), col("idx"))
  }

  val p3Oracle: String =
    """SELECT CAST(event_id AS VARCHAR) AS element, CAST(i AS INT) AS idx,
      |  CASE i WHEN 0 THEN 'job-a' ELSE 'job-b' END AS job_name,
      |  CASE i WHEN 0 THEN 'proj-a' ELSE 'proj-b' END AS project,
      |  CASE i WHEN 0 THEN TIMESTAMP '2026-01-01 00:00:00'
      |         ELSE TIMESTAMP '2026-01-02 12:30:00' END AS ts
      |FROM events, range(0, 2) r(i) WHERE event_id < 200
      |ORDER BY element, idx""".stripMargin

  /** Wire-codec roundtrip over mixed input: v1 messages (entity_id shape,
    * with payload + force metadata), v2 messages (ping metadata), and bare
    * non-klio lines — decoded (upgrade + lift), re-encoded, decoded again.
    * Fidelity of payload/flags across the roundtrip is what's checked
    * (serializer.py:23-105 semantics).
    */
  def p4WireRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id").cast("string")
    // The events table arrives as one file partition; fan out before the
    // JSON-parse-heavy decode chain so all cores work (a tiny shuffle of
    // narrow rows buys 32-way Jackson parsing).
    val par = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val raw = Tables.events(s, dir).repartition(par).select(
      when(col("event_id") % 3 === 0,
        concat(lit("{\"version\":1,\"entity_id\":\""), id,
          lit("\",\"payload\":\"p"), id,
          lit("\",\"metadata\":{\"force\":true}}")))
        .when(col("event_id") % 3 === 1,
          concat(lit("{\"element\":\""), id,
            lit("\",\"version\":2,\"payload\":\"q"), id,
            lit("\",\"metadata\":{\"ping\":true}}")))
        .otherwise(concat(lit("raw-"), id)).as("value"))
    val once = KlioWire.decode(raw, allowNonKlio = true)
    val round = KlioWire.decode(KlioWire.encode(once), allowNonKlio = false)
    round
      .withColumn("category",
        when(substring(col("payload"), 1, 1) === "p", "v1")
          .when(substring(col("payload"), 1, 1) === "q", "v2")
          .otherwise("bare"))
      .withColumn("idnum",
        regexp_replace(col("element"), "raw-", "").cast("long"))
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n"),
        sum(col("metadata.force").cast("long")).as("n_force"),
        sum(col("metadata.ping").cast("long")).as("n_ping"),
        sum(col("idnum")).as("checksum"))
      .orderBy(col("category"))
  }

  val p4Oracle: String =
    """WITH m AS (SELECT event_id, CASE
      |    WHEN event_id % 3 = 0 THEN 'v1'
      |    WHEN event_id % 3 = 1 THEN 'v2'
      |    ELSE 'bare' END AS category
      |  FROM events)
      |SELECT category, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN category = 'v1' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_force,
      |  CAST(SUM(CASE WHEN category = 'v2' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_ping,
      |  CAST(SUM(event_id) AS BIGINT) AS checksum
      |FROM m GROUP BY category ORDER BY category""".stripMargin

  /** The @handle_klio wrapper (decorators.py:805-908): typed per-message
    * user fn with element-level retries and the error → drop channel. The
    * fn reverses the element into the payload and fails on multiples of 13;
    * failed messages divert with their ORIGINAL payload, the pipeline
    * continues (decorators.py:266-304).
    */
  def p5HandleKlio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val msgs = Tables.events(s, dir)
      .select(KlioWire.newMessageColumns(col("event_id")): _*)
      .as[KlioMessage]
    val attempts = HandleKlio(msgs, m =>
      if (m.element.toLong % 13 == 0)
        throw new IllegalArgumentException(s"boom ${m.element}")
      else m.copy(payload = m.element.reverse),
      retries = 1)
    HandleKlio.ok(attempts).toDF()
      .select(col("element"), col("payload"), lit("ok").as("route"))
      .unionByName(HandleKlio.dropped(attempts).toDF()
        .select(col("msg.element").as("element"),
          col("msg.payload").as("payload"), lit("drop").as("route")))
      .groupBy(col("route"))
      .agg(count(lit(1)).as("n"),
        sum(col("element").cast("long")).as("checksum"),
        sum(coalesce(col("payload").try_cast("long"), lit(0L))).as("rev_sum"))
      .orderBy(col("route"))
  }

  val p5Oracle: String =
    """WITH m AS (SELECT event_id,
      |    CASE WHEN event_id % 13 = 0 THEN 'drop' ELSE 'ok' END AS route,
      |    CASE WHEN event_id % 13 = 0 THEN 0
      |         ELSE CAST(reverse(CAST(event_id AS VARCHAR)) AS BIGINT)
      |    END AS rev
      |  FROM events)
      |SELECT route, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS checksum,
      |  CAST(SUM(rev) AS BIGINT) AS rev_sum
      |FROM m GROUP BY route ORDER BY route""".stripMargin

  /** Multimodal binary-column plumbing: documents' text ridden as opaque
    * binary content in the [[Multimodal.MediaFile]] frame, chunked by the
    * frame sampler (stride 2). Frame counts and byte totals are closed-form
    * for the oracle; the real-media decode path is the same plumbing with a
    * codec body.
    */
  def m1MediaFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = Tables.documents(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id").cast("string").as("element"),
        lit("text").as("mediaType"),
        col("text").cast("binary").as("content"),
        length(col("text")).cast("long").as("length"),
        map().cast("map<string,string>").as("meta"))
      .as[Multimodal.MediaFile]
    Multimodal.sampleFramesStub(files, 2)
      .groupBy(col("element"))
      .agg(count(lit(1)).as("n_frames"),
        sum(octet_length(col("frame_bytes"))).as("total_bytes"))
      .orderBy(col("element"))
  }

  val m1Oracle: String =
    """WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS element,
      |    strlen(text) AS len FROM documents WHERE length(text) > 0),
      |f AS (SELECT element, len, CAST(i AS INT) AS idx
      |  FROM d, range(0, 4000) r(i) WHERE i * 1024 < len AND i % 2 = 0)
      |SELECT element, COUNT(*) AS n_frames,
      |  CAST(SUM(LEAST(1024, len - idx * 1024)) AS BIGINT) AS total_bytes
      |FROM f GROUP BY element ORDER BY element""".stripMargin

  /** The REAL WAV codec under the oracle gate: per event, 256 PCM16
    * samples k = (id·131 + j·7919) mod 65535 − 32767 are encoded as a
    * RIFF/WAVE blob ([[graft.functions.Dsp.encodeWavPcm16]]), decoded back
    * through the LoadAudio stand-in, and re-quantized. k/32767 survives
    * encode exactly (round(k)), decode yields k/32768 (exact in float), so
    * the position-weighted checksum is closed-form for the oracle — codec
    * header layout, chunk walking, and sample scaling are all hash-checked.
    */
  def m2WavCodec(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.AudioFunctions.{decodeWav, pcm16, syntheticLcgWav}
    Tables.events(s, dir).filter(col("event_id") < 64)
      .select(col("event_id"),
        decodeWav(syntheticLcgWav(col("event_id"), lit(0))).as("y"))
      .select(col("event_id"), posexplode(pcm16(col("y"))).as(Seq("j", "k")))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_samples"),
        sum((col("j") + 1) * col("k")).as("checksum"))
      .orderBy(col("event_id"))
  }

  val m2Oracle: String =
    """SELECT event_id, COUNT(*) AS n_samples,
      |  CAST(SUM((j + 1) * ((event_id * 131 + j * 7919) % 65535 - 32767))
      |    AS BIGINT) AS checksum
      |FROM events, range(0, 256) r(j) WHERE event_id < 64
      |GROUP BY event_id ORDER BY event_id""".stripMargin

  /** Batch audio feature extraction over opaque binary columns — the
    * corpus-scale fingerprinting pass a training pipeline runs before
    * any model sees the audio: decode each WAV blob ([[m2WavCodec]]'s
    * real RIFF codec) and compute per-clip features — sample count,
    * energy (Σk²), peak amplitude, zero-crossing count — entirely in
    * codegen'd higher-order functions over the integer PCM samples, so
    * the whole decode→featurize pipeline is one narrow projection with
    * zero shuffles until the final sort. Integer arithmetic keeps the
    * oracle exact: the synthetic clips' samples are closed-form
    * (id·131 + j·7919 LCG), so DuckDB recomputes every feature from the
    * formula while Spark derives them through the real codec — the match
    * proves codec fidelity AND feature math at once.
    */
  def m3AudioFeatures(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.AudioFunctions.{decodeWav, pcm16, syntheticLcgWav}
    Tables.events(s, dir).filter(col("event_id") < 64)
      .select(col("event_id"),
        decodeWav(syntheticLcgWav(col("event_id"), lit(0))).as("y"))
      .select(col("event_id"), pcm16(col("y")).as("k"))
      .select(col("event_id"),
        size(col("k")).cast("long").as("n_samples"),
        aggregate(col("k"), lit(0L), (a, x) => a + x * x).as("energy"),
        array_max(transform(col("k"), x => abs(x))).as("peak"),
        size(filter(
          zip_with(slice(col("k"), lit(1), size(col("k")) - 1),
            slice(col("k"), lit(2), size(col("k")) - 1), (a, b) => a * b),
          p => p < 0)).cast("long").as("zero_crossings"))
      .orderBy(col("event_id"))
  }

  val m3Oracle: String =
    """WITH ks AS (SELECT event_id, j,
      |    (event_id * 131 + j * 7919) % 65535 - 32767 AS k
      |  FROM events, range(0, 256) r(j) WHERE event_id < 64),
      |lagged AS (SELECT event_id, k,
      |    LEAD(k) OVER (PARTITION BY event_id ORDER BY j) AS nk
      |  FROM ks)
      |SELECT event_id, COUNT(*) AS n_samples,
      |  CAST(SUM(k * k) AS BIGINT) AS energy,
      |  CAST(MAX(ABS(k)) AS BIGINT) AS peak,
      |  CAST(SUM(CASE WHEN k * nk < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS zero_crossings
      |FROM lagged GROUP BY event_id ORDER BY event_id""".stripMargin

  /** KlioReadFromBigQuery, single-column form (io.py:219-241): the raw
    * column value becomes the element. Aggregates prove every row arrived
    * with element fidelity.
    */
  def io1BqSingle(s: SparkSession, dir: String): DataFrame =
    EventIO.readBq(s, s"$dir/orders.parquet", Seq("o_orderkey"))
      .agg(count(lit(1)).as("n"),
        min(col("element")).as("min_el"),
        max(col("element")).as("max_el"),
        sum(col("element").cast("long")).as("checksum"))

  val io1Oracle: String =
    """SELECT COUNT(*) AS n, MIN(CAST(o_orderkey AS VARCHAR)) AS min_el,
      |  MAX(CAST(o_orderkey AS VARCHAR)) AS max_el,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS checksum
      |FROM orders""".stripMargin

  /** KlioReadFromBigQuery, multi-column form: the selected columns become a
    * JSON object element. The filter round-trips the element back through
    * from_json, proving the JSON shape is parseable and exact.
    */
  def io2BqJson(s: SparkSession, dir: String): DataFrame =
    EventIO.readBq(s, s"$dir/orders.parquet",
      Seq("o_orderkey", "o_custkey"))
      .withColumn("okey",
        get_json_object(col("element"), "$.o_orderkey").cast("long"))
      .filter(col("okey") < 100)
      .select(col("element"))
      .orderBy(col("element"))

  val io2Oracle: String =
    """SELECT '{"o_orderkey":' || o_orderkey || ',"o_custkey":' || o_custkey
      |  || '}' AS element
      |FROM orders WHERE o_orderkey < 100 ORDER BY element""".stripMargin

  /** KlioReadFromBigQuery's `query` form (io.py:288-306): the event input
    * is a SQL result rather than table+columns. The SQL runs in-engine
    * over a registered view (filters reach the scan); its single selected
    * column becomes the raw element (io.py:230-232).
    */
  def io9BqQuery(s: SparkSession, dir: String): DataFrame =
    EventIO.readBqQuery(s, s"$dir/orders.parquet", "orders_v",
        "SELECT o_orderkey FROM orders_v WHERE o_orderstatus = 'F'",
        Seq("o_orderkey"))
      .agg(count(lit(1)).as("n"),
        min(col("element")).as("min_el"),
        max(col("element")).as("max_el"),
        sum(col("element").cast("long")).as("checksum"))

  val io9Oracle: String =
    """SELECT COUNT(*) AS n, MIN(CAST(o_orderkey AS VARCHAR)) AS min_el,
      |  MAX(CAST(o_orderkey AS VARCHAR)) AS max_el,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS checksum
      |FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  /** KlioTriggerUpstream's metadata rewrite + resume loop
    * (helpers.py:536-753, 399-411): a message rewritten for bottom-up
    * backfill is (a) processable by the upstream job in limited mode,
    * (b) flipped back to top-down `anyone` when it reaches the origin job
    * (the triggerChildrenOf match), and (c) dropped by any unrelated job.
    * All three perspectives run the REAL checkRecipients over the REAL
    * rewrite; the oracle replays the decision table.
    */
  def p6TriggerUpstream(s: SparkSession, dir: String): DataFrame = {
    val self = KlioJobRef("child-job", "proj")
    val up = KlioJobRef("parent-job", "proj")
    val other = KlioJobRef("stranger-job", "proj")
    val msgs = Tables.events(s, dir)
      .filter(col("event_id") < 500)
      .select(KlioWire.newMessageColumns(col("event_id")): _*)
    val rewritten = Prelude.triggerUpstream(msgs, up, self)
    def outcome(job: KlioJobRef, label: String): DataFrame = {
      val (kept, dropped) = Prelude.checkRecipients(rewritten, job)
      kept.select(col("element"),
        concat(lit(s"${label}_kept_"),
          col("metadata.intendedRecipients.mode")).as("outcome"))
        .unionByName(dropped.select(col("element"),
          lit(s"${label}_dropped").as("outcome")))
    }
    outcome(up, "upstream")
      .unionByName(outcome(self, "origin"))
      .unionByName(outcome(other, "other"))
      .groupBy(col("outcome"))
      .agg(count(lit(1)).as("n"),
        sum(col("element").cast("long")).as("checksum"))
      .orderBy(col("outcome"))
  }

  val p6Oracle: String =
    """SELECT o AS outcome, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS checksum
      |FROM events, (VALUES ('upstream_kept_limited'), ('origin_kept_anyone'),
      |  ('other_dropped')) v(o)
      |WHERE event_id < 500 GROUP BY o ORDER BY o""".stripMargin

  /** KlioWriteToBigQuery's row projection (io.py:355-383): JSON payloads
    * parsed against the declared BQ schema (`_io.py:462-491`) into real
    * columns. Money rides as integer cents so sums are engine-exact.
    */
  def io3BqWrite(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).filter(col("o_orderkey") < 2000)
    val msgCols = KlioWire.newMessageColumns(col("o_orderkey"))
    val payload = to_json(struct(
      col("o_orderkey").as("okey"),
      col("o_custkey").as("ckey"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"))).as("payload")
    val msgs = o.select(msgCols.head, payload, msgCols(2), msgCols(3))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("okey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ckey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cents",
        org.apache.spark.sql.types.LongType)))
    EventIO.bqRows(msgs, schema)
      .agg(count(lit(1)).as("n"),
        sum(col("okey")).as("sum_okey"),
        sum(col("ckey")).as("sum_ckey"),
        sum(col("cents")).as("sum_cents"))
  }

  val io3Oracle: String =
    """SELECT COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(o_custkey) AS BIGINT) AS sum_ckey,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM orders WHERE o_orderkey < 2000""".stripMargin

  /** CSV event-source roundtrip: a customer slice writes as headered CSV
    * and reads back with an explicit schema (never inference at scale —
    * inference is a second full pass over 100 TB), then aggregates to
    * engine-exact integers. Covers the text-format source family the
    * reference funnels through ReadFromText; CSV/JSON are native Spark
    * sources with full pushdown, unlike the jar-blocked Avro.
    */
  def io4CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir")) + "/graft_io4_csv"
    Tables.customer(s, dir).filter(col("c_custkey") < 500)
      .select(col("c_custkey"), col("c_nationkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = "c_custkey LONG, c_nationkey LONG, cents LONG"
    s.read.option("header", "true").schema(schema).csv(out)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("sum_key"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("c_nationkey"))
  }

  val io4Oracle: String =
    """SELECT c_nationkey, COUNT(*) AS n,
      |  CAST(SUM(c_custkey) AS BIGINT) AS sum_key,
      |  CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM customer WHERE c_custkey < 500
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** JSON-lines event-source roundtrip (the other native text format):
    * same slice as ndjson with an explicit read schema, proving
    * numeric/string fidelity through the codec.
    */
  def io5JsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir")) + "/graft_io5_json"
    Tables.customer(s, dir).filter(col("c_custkey") < 500)
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .write.mode("overwrite").json(out)
    val schema = "c_custkey LONG, c_mktsegment STRING, cents LONG"
    s.read.schema(schema).json(out)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("c_mktsegment"))
  }

  val io5Oracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM customer WHERE c_custkey < 500
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** ORC roundtrip — the fourth native columnar/text format after
    * parquet/CSV/JSON (Avro needs the jar-blocked connector). Columnar
    * like parquet, so the read-back aggregation gets column pruning and
    * predicate pushdown at the scan.
    */
  def io6OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir")) + "/graft_io6_orc"
    Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"),
        (col("s_acctbal").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .write.mode("overwrite").orc(out)
    s.read.orc(out)
      .filter(col("s_suppkey") < 500)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("s_nationkey"))
  }

  val io6Oracle: String =
    """SELECT s_nationkey, COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM supplier WHERE s_suppkey < 500
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** REAL Avro container-file roundtrip (KlioWriteToAvro → KlioReadFromAvro,
    * reference io.py:428-657): messages write as deflate-compressed avro
    * containers with the reference's fixed `{element: bytes}` schema and
    * read back through the splittable AvroKeyInputFormat scan. The
    * read-back aggregation proves element fidelity through the binary
    * codec; the container format itself is spec-locked in AvroIOSpec.
    */
  def io7AvroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir")) + "/graft_io7_avro"
    val msgs = Tables.part(s, dir).filter(col("p_partkey") < 2000)
      .select(KlioWire.newMessageColumns(col("p_partkey")): _*)
    graft.io.AvroIO.writeKlioAvro(msgs, out)
    graft.io.AvroIO.readAvro(s, out)
      .select(col("element").cast("long").as("pkey"))
      .groupBy((col("pkey") % 7).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("pkey")).as("checksum"))
      .orderBy(col("bucket"))
  }

  val io7Oracle: String =
    """SELECT p_partkey % 7 AS bucket, COUNT(*) AS n,
      |  CAST(SUM(p_partkey) AS BIGINT) AS checksum
      |FROM part WHERE p_partkey < 2000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The reference's REAL wire format under the gate: messages with every
    * metadata shape (force, ping, limited recipients + trigger, audit log)
    * encode to hand-rolled proto3 bytes (klio.proto field numbers), write
    * as varint-framed `.pb` shards, read back, and decode — fidelity of
    * element, payload, flags, recipient lists, and audit entries is
    * hash-checked per class. Byte-level interop vectors live in
    * KlioProtoSpec; this proves the engine-scale path.
    */
  def io8ProtoRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir")) + "/graft_io8_proto"
    val msgs = Tables.events(s, dir).filter(col("event_id") < 3000)
      .select(col("event_id").cast("long")).as[Long].map { id =>
        val md = (id % 4) match {
          case 0 => graft.model.KlioMetadata(force = true)
          case 1 => graft.model.KlioMetadata(ping = true)
          case 2 => graft.model.KlioMetadata(intendedRecipients =
            graft.model.KlioRecipients("limited",
              Seq(KlioJobRef("job-a", "proj-a"), KlioJobRef("job-b", "proj-b")),
              Some(KlioJobRef("job-a", "proj-a"))))
          case _ => graft.model.KlioMetadata(jobAuditLog = Seq(
            graft.model.KlioAuditItem(
              new java.sql.Timestamp(1767225600000L), "job-c", "proj-c")))
        }
        KlioMessage(s"e$id", s"pay-$id", 2, md)
      }
    EventIO.writeProtoWire(msgs.toDF(), out)
    EventIO.readProtoWire(s, out, allowNonKlio = false)
      .withColumn("id", substring(col("element"), 2, 18).cast("long"))
      .groupBy((col("id") % 4).as("cls"))
      .agg(count(lit(1)).as("n"),
        sum(col("metadata.force").cast("long")).as("n_force"),
        sum(col("metadata.ping").cast("long")).as("n_ping"),
        sum(when(col("metadata.intendedRecipients.mode") === "limited",
          size(col("metadata.intendedRecipients.recipients")))
          .otherwise(0)).as("n_recipients"),
        sum(size(col("metadata.jobAuditLog"))).as("n_audit"),
        sum(when(col("payload") === concat(lit("pay-"), col("id")), 1L)
          .otherwise(0L)).as("n_payload_ok"),
        sum(col("id")).as("checksum"))
      .orderBy(col("cls"))
  }

  val io8Oracle: String =
    """SELECT event_id % 4 AS cls, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN event_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_force,
      |  CAST(SUM(CASE WHEN event_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_ping,
      |  CAST(SUM(CASE WHEN event_id % 4 = 2 THEN 2 ELSE 0 END) AS BIGINT)
      |    AS n_recipients,
      |  CAST(SUM(CASE WHEN event_id % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_audit,
      |  COUNT(*) AS n_payload_ok,
      |  CAST(SUM(event_id) AS BIGINT) AS checksum
      |FROM events WHERE event_id < 3000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The CUSTOM STATEFUL OPERATOR under the oracle gate:
    * [[graft.streaming.Sessionize]] (flatMapGroupsWithState) run in
    * batch-backfill mode over real events. Batch mode emits only
    * gap-completed sessions, so a per-key sentinel event past the gap
    * flushes every real session (the operator's documented backfill
    * recipe); the sentinel's own 1-event session stays open and never
    * emits. Money rides as exact cents in doubles (integer-valued, so
    * per-session addition is order-free), making the state machine's
    * output hash-comparable to a gaps-and-islands SQL oracle.
    */
  def st1Sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gapMs = 300000L
    val ev = Tables.events(s, dir)
      .filter(col("user_id") < 50)
      .select(col("user_id").as("key"),
        expr("ts DIV 1000000").as("tsMs"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .cast("double").as("value"))
    val sentinels = ev.groupBy(col("key"))
      .agg((max(col("tsMs")) + gapMs + 1).as("tsMs"))
      .select(col("key"), col("tsMs"), lit(0.0).as("value"))
    val sessions = graft.streaming.Sessionize(
      ev.unionByName(sentinels).as[graft.streaming.Sessionize.Event], gapMs)
    sessions.toDF()
      .select(col("key").as("user_id"), col("startMs").as("start_ms"),
        col("endMs").as("end_ms"), col("nEvents").as("n"),
        col("total").cast("long").as("total_cents"))
      .orderBy(col("user_id"), col("start_ms"))
  }

  val st1Oracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 1000 AS tsm,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE user_id < 50),
      |x AS (SELECT *, CASE WHEN LAG(tsm) OVER w IS NULL
      |      OR tsm - LAG(tsm) OVER w > 300000 THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsm)),
      |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY tsm
      |    ROWS UNBOUNDED PRECEDING) AS sid FROM x)
      |SELECT user_id, MIN(tsm) AS start_ms, MAX(tsm) AS end_ms,
      |  COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM g GROUP BY user_id, sid ORDER BY user_id, start_ms""".stripMargin

  private def tmpDir(s: SparkSession): String =
    s.conf.get("spark.graft.tmpDir", System.getProperty("java.io.tmpdir"))

  /** Bucketed-table co-located join — the layout strategy that deletes the
    * shuffle from a repeated big join: both sides written with
    * `bucketBy(8, custkey)` (+ in-bucket sort), so the join's hash
    * distribution is satisfied BY THE FILES and EnsureRequirements inserts
    * no Exchange on either side (`LayoutSpec` pins that plan with
    * broadcast disabled). At 100 TB this is THE pattern for a fact table
    * joined every run on the same key: pay the shuffle once at write time,
    * never again at read time. The `merge` hint keeps the demonstration on
    * the sort-merge path (a broadcast of the small side would also skip
    * the shuffle, but proves nothing about layout).
    */
  def io10BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val base = tmpDir(s)
    Tables.orders(s, dir).filter(col("o_custkey") < 500)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .repartition(8, col("o_custkey"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", base + "/graft_io10_orders")
      .saveAsTable("graft_io10_orders")
    Tables.customer(s, dir).filter(col("c_custkey") < 500)
      .select(col("c_custkey"), col("c_mktsegment"))
      .repartition(8, col("c_custkey"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", base + "/graft_io10_customer")
      .saveAsTable("graft_io10_customer")
    s.table("graft_io10_orders").hint("merge")
      .join(s.table("graft_io10_customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("c_mktsegment"))
  }

  val io10Oracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_custkey < 500 AND c_custkey < 500
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Hive-style partition pruning: events written `partitionBy(event_type)`
    * and read back with an equality filter — the scan enumerates ONE
    * partition directory and the filter never touches row data
    * (`LayoutSpec` asserts the pruned partition count). The date/tenant
    * partitioning every 100 TB lake leans on; the complement of io10
    * (pruning cuts what's read, bucketing cuts what's shuffled).
    */
  def io11PartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val out = tmpDir(s) + "/graft_io11_events"
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    s.read.parquet(out)
      .filter(col("event_type") === "click")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_user"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("event_type"))
  }

  val io11Oracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(user_id) AS BIGINT) AS sum_user,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM events WHERE event_type = 'click'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** PARTITION EVOLUTION — the third side of the layout-maintenance
    * triangle (io12 compaction, io14 Z-order): a table laid out for
    * yesterday's workload (partitioned by `event_type`) is re-laid for
    * today's (`user_id`-range queries dominate → partition by
    * `user_id mod 8` buckets — a BOUNDED partition count at any id-space
    * size, where a range-div key would mint directories in proportion
    * to the id range) as ONE replacing manifest commit.
    * Readers mid-query keep the version they resolved; time travel
    * keeps the old layout readable; retention reclaims it later —
    * io17's discipline applied to the physical layout itself. The gate
    * is answer-identity ACROSS the evolution: the same census computed
    * through the evolved snapshot AND through the time-traveled
    * original version, both hash-matched against the raw data (a
    * re-layout that loses or duplicates a row is corruption). A
    * structural require pins that the new commit really is
    * hive-partitioned by the new key (the thing that makes `ub`
    * filters prune at the LISTING level, before a footer opens);
    * `LayoutSpec` asserts the scan-side pruning.
    */
  def io34PartitionEvolution(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val root = tmpDir(s) + "/graft_io34"
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(rootP, true)
    val tbl = s"$root/tbl"
    val d0 = s"$root/by_type"
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"), col("event_type"))
      .write.partitionBy("event_type").parquet(d0)
    Manifest.commit(s, tbl, d0)
    // the evolution: rewrite the CURRENT snapshot under the new key as
    // a replacing commit (old version stays readable for time travel)
    val d1 = s"$root/by_ub"
    Manifest.snapshot(s, tbl)
      .withColumn("ub", expr("user_id % 8"))
      .write.partitionBy("ub").parquet(d1)
    Manifest.rewrite(s, tbl, Seq(d1))
    require(fs.listStatus(new org.apache.hadoop.fs.Path(d1))
        .exists(_.getPath.getName.startsWith("ub=")),
      "evolved layout must be hive-partitioned by the new key")
    val vs = Manifest.versions(s, tbl)
    require(vs.size == 2, s"expected original + evolved versions, got $vs")
    def census(df: DataFrame, tag: String) = df
      .groupBy(expr("user_id % 8").as("ub"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("layout", lit(tag))
    census(Manifest.snapshot(s, tbl), "evolved")
      .unionByName(census(Manifest.snapshot(s, tbl, Some(vs.head)),
        "original"))
      .select(col("layout"), col("ub"), col("n"), col("sum_id"),
        col("sum_cents"))
      .orderBy(col("layout"), col("ub"))
  }

  val io34Oracle: String =
    """WITH c AS (SELECT user_id % 8 AS ub, COUNT(*) AS n,
      |    CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS sum_cents
      |  FROM events GROUP BY 1)
      |SELECT 'evolved' AS layout, * FROM c
      |UNION ALL SELECT 'original', * FROM c
      |ORDER BY layout, ub""".stripMargin

  /** COLUMN MAPPING — rename-safe schema evolution
    * ([[graft.io.ColumnMapping]]): renaming a column on a 100 TB table
    * must be ONE metadata commit, not a rewrite — parquet keeps its
    * physical names forever and each manifest version carries a
    * physical→logical mapping applied at read time. The gate drives a
    * rename CHAIN (cents→amount_cents→amt, proving composition through
    * logical names) plus a second rename (user_id→uid), then reads the
    * same census through the evolved head AND the time-traveled
    * original — both ≡ raw data. Structural requires pin the two claims
    * that make it a mapping and not a rewrite: every version lists the
    * SAME data directory, and the physical parquet schema still says
    * `cents`. `LayoutSpec` pins the refusal edges (unknown column,
    * logical-name collision).
    */
  def io35ColumnMapping(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{ColumnMapping, Manifest}
    val root = tmpDir(s) + "/graft_io35"
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(rootP, true)
    val tbl = s"$root/tbl"
    val d0 = s"$root/data"
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"), col("event_type"))
      .write.parquet(d0)
    Manifest.commit(s, tbl, d0)
    ColumnMapping.renameColumn(s, tbl, root, "cents", "amount_cents")
    ColumnMapping.renameColumn(s, tbl, root, "amount_cents", "amt")
    ColumnMapping.renameColumn(s, tbl, root, "user_id", "uid")
    val vs = Manifest.versions(s, tbl)
    require(vs.size == 4, s"expected 4 versions, got $vs")
    // zero-rewrite proof: every version pins the same data directory...
    vs.foreach { v =>
      val data = Manifest.entries(s, tbl, Some(v))
        .filterNot(ColumnMapping.isMapping)
      require(data == Seq(d0), s"v$v data dirs moved: $data")
    }
    // ...and the physical schema never changed
    require(s.read.parquet(d0).schema.fieldNames.contains("cents"),
      "physical parquet schema must keep the original column name")
    def census(df: DataFrame, tag: String) = df
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_uid"),
        sum(col("v")).as("sum_cents"))
      .withColumn("layout", lit(tag))
    val evolved = ColumnMapping.snapshot(s, tbl)
      .select(col("event_type"), col("uid").as("k"), col("amt").as("v"))
    val original = ColumnMapping.snapshot(s, tbl, Some(vs.head))
      .select(col("event_type"), col("user_id").as("k"),
        col("cents").as("v"))
    census(evolved, "evolved").unionByName(census(original, "original"))
      .select(col("layout"), col("event_type"), col("n"), col("sum_uid"),
        col("sum_cents"))
      .orderBy(col("layout"), col("event_type"))
  }

  val io35Oracle: String =
    """WITH c AS (SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(user_id) AS BIGINT) AS sum_uid,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS sum_cents
      |  FROM events GROUP BY 1)
      |SELECT 'evolved' AS layout, * FROM c
      |UNION ALL SELECT 'original', * FROM c
      |ORDER BY layout, event_type""".stripMargin

  /** io35's COLUMN MAPPING re-answered as PLAIN SQL — `ALTER TABLE …
    * RENAME COLUMN` through [[graft.io.dsv2.GraftCatalog.alterTable]]:
    * each rename is ONE metadata commit (a fresh physical→logical
    * mapping directory; the in-gate requires pin that every version
    * lists the SAME data directory and the physical parquet name never
    * changes — zero bytes rewritten on a rename, the 100 TB
    * requirement), rename chains compose, the DSv2 scan translates
    * logical names back to physical at the parquet/sidecar boundary,
    * and time travel reads the schema of its era. Same censuses, same
    * oracle text as io35 — what changed is only WHO renames (a SQL
    * user, not the Scala API) and WHO reads (the DSv2 scan, not
    * `ColumnMapping.snapshot`).
    */
  def io50SqlRename(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{ColumnMapping, Manifest}
    s.conf.set("spark.sql.catalog.g50", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g50.root", tmpDir(s))
    val root = tmpDir(s) + "/graft_io50_tbl"
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(rootP, true)
    val d0 = s"$root/data/b0"
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"), col("event_type"))
      .write.parquet(d0)
    Manifest.commit(s, root, d0)
    s.sql("ALTER TABLE g50.graft_io50_tbl " +
      "RENAME COLUMN cents TO amount_cents")
    s.sql("ALTER TABLE g50.graft_io50_tbl " +
      "RENAME COLUMN amount_cents TO amt")
    s.sql("ALTER TABLE g50.graft_io50_tbl RENAME COLUMN user_id TO uid")
    val vs = Manifest.versions(s, root)
    require(vs.size == 4, s"expected 4 versions, got $vs")
    vs.foreach { v =>
      val data = Manifest.entries(s, root, Some(v))
        .filterNot(ColumnMapping.isMapping)
      require(data == Seq(d0), s"v$v data dirs moved: $data")
    }
    require(s.read.parquet(d0).schema.fieldNames.contains("cents"),
      "physical parquet schema must keep the original column name")
    require(s.sql("SELECT * FROM g50.graft_io50_tbl").schema.fieldNames
      .toSeq == Seq("event_id", "uid", "amt", "event_type"),
      "the SQL head must advertise the logical names")
    def census(df: DataFrame, tag: String) = df
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_uid"),
        sum(col("v")).as("sum_cents"))
      .withColumn("layout", lit(tag))
    val evolved = s.sql(
      "SELECT event_type, uid, amt FROM g50.graft_io50_tbl")
      .select(col("event_type"), col("uid").as("k"), col("amt").as("v"))
    val original = s.sql(
      "SELECT event_type, user_id, cents FROM g50.graft_io50_tbl " +
        "VERSION AS OF 1")
      .select(col("event_type"), col("user_id").as("k"),
        col("cents").as("v"))
    census(evolved, "evolved").unionByName(census(original, "original"))
      .select(col("layout"), col("event_type"), col("n"), col("sum_uid"),
        col("sum_cents"))
      .orderBy(col("layout"), col("event_type"))
  }

  val io50Oracle: String = io35Oracle

  /** DEEP CLONE — the environment-promotion copy
    * ([[graft.io.Manifest.deepClone]]): io27/io33 prove the O(1)
    * SHALLOW clone and its retention coupling (the `_clones/` registry
    * blocks source expiry); this gate proves the opposite contract —
    * full independence. The clone physically copies the pinned
    * version's directories and commits a fresh manifest over the
    * copies, with NO registration; the source is then rewritten away
    * from the cloned directories and force-expired so they are REALLY
    * DELETED (a filesystem require pins that), and the clone must
    * still answer — while the mutated source answers its new
    * content. Scale: cost is one copy pass ∝ data, exactly what
    * "promote this table to prod/staging" costs anywhere.
    */
  def io36DeepClone(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val root = tmpDir(s) + "/graft_io36"
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(rootP, true)
    val tbl = s"$root/src_tbl"
    def slice(lo: Int, hi: Int, d: String): String = {
      Tables.events(s, dir)
        .filter(col("user_id") >= lo && col("user_id") < hi)
        .select(col("event_id"), col("user_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
        .write.parquet(d)
      d
    }
    Manifest.commit(s, tbl, slice(0, 50, s"$root/d0"))
    Manifest.commit(s, tbl, slice(50, 100, s"$root/d1"))
    val cloneTbl = s"$root/clone_tbl"
    Manifest.deepClone(s, tbl, cloneTbl, s"$root/clone_data")
    // source moves on: replaced by new content, old dirs force-expired
    Manifest.rewrite(s, tbl, Seq(slice(100, 150, s"$root/d2")))
    Manifest.expire(s, tbl, keepLast = 1, force = true)
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/d0")) &&
        !fs.exists(new org.apache.hadoop.fs.Path(s"$root/d1")),
      "source expiry must have really deleted the cloned-from dirs")
    def census(df: DataFrame, tag: String) = df
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("side", lit(tag))
    census(Manifest.snapshot(s, cloneTbl), "clone")
      .unionByName(census(Manifest.snapshot(s, tbl), "source"))
      .select(col("side"), col("bucket"), col("n"), col("sum_id"),
        col("sum_cents"))
      .orderBy(col("side"), col("bucket"))
  }

  val io36Oracle: String =
    """WITH base AS (SELECT user_id, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |c AS (SELECT 'clone' AS side, user_id % 10 AS bucket,
      |    COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |    CAST(SUM(cents) AS BIGINT) AS sum_cents
      |  FROM base WHERE user_id < 100 GROUP BY 2),
      |m AS (SELECT 'source', user_id % 10, COUNT(*),
      |    CAST(SUM(event_id) AS BIGINT),
      |    CAST(SUM(cents) AS BIGINT)
      |  FROM base WHERE user_id >= 100 AND user_id < 150 GROUP BY 2)
      |SELECT * FROM c UNION ALL SELECT * FROM m
      |ORDER BY side, bucket""".stripMargin

  /** VERSION TAGS — named refs that retention respects
    * ([[graft.io.Manifest.tag]]): "the exact table state training run
    * 7 read" must stay reproducible past any keepLast window, which is
    * what a tag buys — [[graft.io.Manifest.expire]] treats tagged
    * versions as live however old they are, and [[graft.io.Manifest
    * .dropTag]] returns them to the ordinary retention pool. The gate
    * drives the full lifecycle: tag v1, advance the table twice,
    * expire keepLast=1 (v2 reclaimed — filesystem require — while
    * tagged v1 and its data SURVIVE), read the same census through the
    * tag and the latest head, then drop the tag and expire again (now
    * v1 reclaims too — the require proving tags were the only thing
    * keeping it). Re-tagging an existing name must refuse (tags are
    * immutable).
    */
  def io37VersionTags(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val root = tmpDir(s) + "/graft_io37"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val tbl = s"$root/tbl"
    def slice(lo: Int, hi: Int, d: String): String = {
      Tables.events(s, dir)
        .filter(col("user_id") >= lo && col("user_id") < hi)
        .select(col("event_id"), col("user_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
        .write.parquet(d)
      d
    }
    val v1 = Manifest.commit(s, tbl, slice(0, 50, s"$root/d1"))
    Manifest.tag(s, tbl, "prod", v1)
    val retag = try { Manifest.tag(s, tbl, "prod", v1); false }
      catch { case _: IllegalArgumentException => true }
    require(retag, "re-tagging an existing name must refuse")
    Manifest.rewrite(s, tbl, Seq(slice(50, 100, s"$root/d2")))
    Manifest.rewrite(s, tbl, Seq(slice(100, 150, s"$root/d3")))
    val expired = Manifest.expire(s, tbl, keepLast = 1)
    require(expired == Seq(2), s"expected only v2 reclaimed, got $expired")
    require(!fsH.exists(new org.apache.hadoop.fs.Path(s"$root/d2")),
      "untagged dead version's data must be reclaimed")
    require(fsH.exists(new org.apache.hadoop.fs.Path(s"$root/d1")),
      "tagged version's data must survive expire")
    def census(df: DataFrame, tagName: String) = df
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("side", lit(tagName))
    // materialize the tagged read BEFORE the tag is dropped below —
    // DataFrames are lazy and the data is about to be reclaimed
    val tagged = census(Manifest.snapshotOfTag(s, tbl, "prod"), "tagged")
      .staged()
    val latest = census(Manifest.snapshot(s, tbl), "latest").staged()
    Manifest.dropTag(s, tbl, "prod")
    val expired2 = Manifest.expire(s, tbl, keepLast = 1)
    require(expired2 == Seq(v1),
      s"after dropTag, v$v1 must reclaim; got $expired2")
    require(!fsH.exists(new org.apache.hadoop.fs.Path(s"$root/d1")),
      "dropping the tag releases the data to retention")
    tagged.unionByName(latest)
      .select(col("side"), col("bucket"), col("n"), col("sum_id"),
        col("sum_cents"))
      .orderBy(col("side"), col("bucket"))
  }

  val io37Oracle: String =
    """WITH base AS (SELECT user_id, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |t AS (SELECT 'tagged' AS side, user_id % 10 AS bucket,
      |    COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |    CAST(SUM(cents) AS BIGINT) AS sum_cents
      |  FROM base WHERE user_id < 50 GROUP BY 2),
      |l AS (SELECT 'latest' AS side, user_id % 10 AS bucket,
      |    COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |    CAST(SUM(cents) AS BIGINT) AS sum_cents
      |  FROM base WHERE user_id >= 100 AND user_id < 150 GROUP BY 2)
      |SELECT * FROM l UNION ALL SELECT * FROM t
      |ORDER BY side, bucket""".stripMargin

  /** Small-file compaction ([[graft.io.Compaction]]): a deliberately
    * over-parallel write (64 files for a few hundred KB) rewritten to
    * target-size files, then aggregated — the result hash proves row-exact
    * content preservation through the rewrite, and `LayoutSpec` asserts
    * the file count actually collapsed.
    */
  def io12Compaction(s: SparkSession, dir: String): DataFrame = {
    val src = tmpDir(s) + "/graft_io12_src"
    val out = tmpDir(s) + "/graft_io12_out"
    Tables.lineitem(s, dir).filter(col("l_orderkey") < 2000)
      .select(col("l_orderkey"), col("l_partkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .repartition(64)
      .write.mode("overwrite").parquet(src)
    graft.io.Compaction.compact(s, src, out, targetBytes = 8L * 1024 * 1024)
    s.read.parquet(out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("l_partkey")).as("sum_pkey"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("l_returnflag"))
  }

  val io12Oracle: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(l_partkey) AS BIGINT) AS sum_pkey,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM lineitem WHERE l_orderkey < 2000
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Write-audit-publish lifecycle ([[graft.io.WriteAuditPublish]]) under
    * the oracle gate: batch 1 (clean) stages, passes its audits (non-empty,
    * no null join keys, no negative amounts), and publishes atomically;
    * batch 2 arrives with planted NULL part keys, fails the audit, and is
    * provably NOT published — the final census over the PUBLISHED table
    * equals the batch-1-only oracle, which is exactly the isolation the
    * pattern promises (readers never see a bad batch, whole or partial).
    * Audits are small aggregates over the staged files themselves — the
    * bytes readers would consume — not the producing DataFrame.
    */
  def io15Wap(s: SparkSession, dir: String): DataFrame = {
    import graft.io.WriteAuditPublish
    val root = tmpDir(s) + "/graft_io15_wap"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val checks: Seq[WriteAuditPublish.Check] = Seq(
      ("non_empty", df => if (df.isEmpty) 1L else 0L),
      ("null_partkey", _.filter(col("l_partkey").isNull).count()),
      ("negative_cents", _.filter(col("cents") < 0).count()))
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_partkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    val f1 = WriteAuditPublish.run(batch(0, 2000),
      s"$root/_staging/b1", s"$root/published/batch=1", checks)
    require(f1.isEmpty, s"clean batch must publish, got: $f1")
    // batch 2: the same shape with planted defects — every 7th part key
    // nulled out, the corruption a schema-drifting producer ships
    val bad = batch(2000, 4000).withColumn("l_partkey",
      when(col("l_orderkey") % 7 === 0, lit(null)).otherwise(col("l_partkey")))
    val f2 = WriteAuditPublish.run(bad,
      s"$root/_staging/b2", s"$root/published/batch=2", checks)
    require(f2.nonEmpty, "defective batch must fail its audit")
    s.read.parquet(s"$root/published")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("l_partkey")).as("sum_pkey"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("l_returnflag"))
  }

  val io15Oracle: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(l_partkey) AS BIGINT) AS sum_pkey,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM lineitem WHERE l_orderkey >= 0 AND l_orderkey < 2000
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Manifest-pointer snapshot commits + time travel
    * ([[graft.io.Manifest]]) — io15's rename publish re-expressed the way
    * object-store table formats commit: immutable data directories become
    * visible only when a versioned manifest lists them (one atomic PUT,
    * create-if-absent = optimistic concurrency). Three batches are
    * written; b1 and b2 commit as versions 1 and 2, b3 stays an ORPHAN —
    * readers must never see it. The census unions the as-of-v1 snapshot
    * with the latest snapshot, so the hash-match proves snapshot
    * isolation (orphan invisible) AND time travel (v1 still reads
    * exactly batch 1) in one result.
    */
  def io16Manifest(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val root = tmpDir(s) + "/graft_io16_tbl"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    batch(0, 1500).write.parquet(s"$root/data/b1")
    val v1 = Manifest.commit(s, root, s"$root/data/b1")
    batch(1500, 3000).write.parquet(s"$root/data/b2")
    Manifest.commit(s, root, s"$root/data/b2")
    // orphan: written but never committed — invisible to every snapshot
    batch(3000, 4500).write.parquet(s"$root/data/b3")
    val asOfV1 = Manifest.snapshot(s, root, Some(v1))
      .withColumn("version", lit(1))
    val latest = Manifest.snapshot(s, root).withColumn("version", lit(2))
    asOfV1.unionByName(latest)
      .groupBy(col("version"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("version"), col("l_returnflag"))
  }

  val io16Oracle: String =
    """WITH li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem),
      |snap AS (
      |  SELECT 1 AS version, * FROM li WHERE l_orderkey < 1500
      |  UNION ALL
      |  SELECT 2, * FROM li WHERE l_orderkey < 3000)
      |SELECT version, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY version, l_returnflag""".stripMargin

  /** Table maintenance under snapshot commits — compaction composed with
    * [[graft.io.Manifest]]: the small files of committed batches are
    * rewritten into target-size files and the REWRITE commits as a new
    * manifest version listing only the compacted directory. The
    * invariant that makes maintenance safe to run anytime: a rewrite
    * must change the physical layout and NOTHING else — so the query
    * emits the pre-rewrite snapshot census and the post-rewrite census
    * side by side, and the oracle (which knows nothing of files) demands
    * they be identical. Old versions still read the old files (time
    * travel across a rewrite), and readers mid-query on v2 are
    * untouched — the commit is one manifest PUT.
    */
  def io17CompactCommit(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Compaction, Manifest}
    val root = tmpDir(s) + "/graft_io17_tbl"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    // two committed batches, written deliberately fragmented
    batch(0, 1500).repartition(16).write.parquet(s"$root/data/b1")
    Manifest.commit(s, root, s"$root/data/b1")
    batch(1500, 3000).repartition(16).write.parquet(s"$root/data/b2")
    val v2 = Manifest.commit(s, root, s"$root/data/b2")
    // maintenance: compact the v2 snapshot's committed (fragmented)
    // files directly into target-size files — one rewrite, no
    // intermediate copy — and commit the rewrite as v3
    Compaction.compactAll(s, Manifest.committed(s, root),
      s"$root/data/compacted", targetBytes = 8L * 1024 * 1024)
    val v3 = Manifest.rewrite(s, root, Seq(s"$root/data/compacted"))
    def census(v: Int, tag: Int) = Manifest.snapshot(s, root, Some(v))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("phase", lit(tag))
    census(v2, 0).unionByName(census(v3, 1))
      .select(col("phase"), col("l_returnflag"), col("n"),
        col("sum_okey"), col("sum_cents"))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io17Oracle: String =
    """WITH li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem WHERE l_orderkey < 3000),
      |c AS (SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |    CAST(SUM(cents) AS BIGINT) AS sum_cents
      |  FROM li GROUP BY l_returnflag)
      |SELECT 0 AS phase, * FROM c
      |UNION ALL SELECT 1, * FROM c
      |ORDER BY phase, l_returnflag""".stripMargin

  /** Snapshot expiration / vacuum under the gate
    * ([[graft.io.Manifest.expire]]) — the retention half of the manifest
    * table's lifecycle: four versions accumulate (two raw-batch commits,
    * a compaction REWRITE that carries their rows forward, one more
    * batch commit), then retention keeps the last two. The expired
    * versions' manifest files AND the data directories only they
    * referenced (the pre-compaction fragments) are deleted — verified by
    * in-query requires — while the surviving snapshots must still read
    * every row, which is what the oracle hash pins: vacuum must reclaim
    * space and change NOTHING visible to live readers.
    */
  def io19Vacuum(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Compaction, Manifest}
    val root = tmpDir(s) + "/graft_io19_tbl"
    val hp = new org.apache.hadoop.fs.Path(root)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    batch(0, 1500).write.parquet(s"$root/data/b1")
    Manifest.commit(s, root, s"$root/data/b1")
    batch(1500, 3000).write.parquet(s"$root/data/b2")
    Manifest.commit(s, root, s"$root/data/b2")
    Compaction.compactAll(s, Manifest.committed(s, root),
      s"$root/data/compacted", targetBytes = 8L * 1024 * 1024)
    val v3 = Manifest.rewrite(s, root, Seq(s"$root/data/compacted"))
    batch(3000, 4500).write.parquet(s"$root/data/b4")
    val v4 = Manifest.commit(s, root, s"$root/data/b4")
    val expired = Manifest.expire(s, root, keepLast = 2)
    require(expired == Seq(1, 2), s"expected v1, v2 expired, got $expired")
    require(Manifest.versions(s, root) == Seq(v3, v4),
      "surviving versions must be exactly the retention window")
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/b1")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/b2")),
      "directories referenced only by expired versions must be deleted")
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/compacted")),
      "directories still referenced by a surviving version must remain")
    def census(v: Int, tag: Int) = Manifest.snapshot(s, root, Some(v))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("version", lit(tag))
    census(v3, 3).unionByName(census(v4, 4))
      .select(col("version"), col("l_returnflag"), col("n"),
        col("sum_okey"), col("sum_cents"))
      .orderBy(col("version"), col("l_returnflag"))
  }

  val io19Oracle: String =
    """WITH li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem),
      |snap AS (
      |  SELECT 3 AS version, * FROM li WHERE l_orderkey < 3000
      |  UNION ALL
      |  SELECT 4, * FROM li WHERE l_orderkey < 4500)
      |SELECT version, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY version, l_returnflag""".stripMargin

  /** Key-space unit for the io-family's synthetic manifest tables: a
    * tenth (by default) of the observed lineitem key space, so every
    * batch and delete range is nonempty at EVERY scale factor
    * (sf0.001's keys stop at 1499, where a hardcoded `[1500, 3000)`
    * batch is empty and the in-query requires trip). The oracles derive
    * the identical unit with `(MAX(l_orderkey)+1)//10`, so both sides
    * move together; at sf0.01 (max key 14999) the unit is exactly
    * 1500 — the boundaries this family originally hardcoded. The max is
    * memoized per data dir: seven io queries share it, and each re-scan
    * would be a pure-overhead Spark job on their published times.
    */
  private val okeyMax =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def okeyUnit(s: SparkSession, dir: String, frac: Int = 10): Long =
    (okeyMax.getOrElseUpdate(dir,
      Tables.lineitem(s, dir).agg(max(col("l_orderkey")))
        .collect()(0).getLong(0)) + 1) / frac

  /** Copy-on-write row-level DELETE under the gate
    * ([[graft.io.RowDelete]]) — the takedown primitive (rights requests,
    * recalled documents) on a manifest table: rows matching a predicate
    * are removed by rewriting ONLY the directories that contain them,
    * committed as a REPLACING version. Two batches commit; the delete
    * predicate hits only the second, and in-query requires pin the
    * copy-on-write contract: batch 1's directory is carried into the new
    * version VERBATIM (zero bytes copied), exactly one directory is
    * rewritten, and a second delete matching nothing commits NOTHING (a
    * no-op must not burn a version slot). The census emits the
    * pre-delete snapshot beside the post-delete one — time travel keeps
    * the deleted rows readable at the old version (until retention
    * reclaims it, which is what makes the delete eventually physical)
    * while the new version must lack exactly the matched rows.
    */
  def io20RowDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Manifest, RowDelete}
    val root = tmpDir(s) + "/graft_io20_tbl"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val k = okeyUnit(s, dir)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    batch(0, k).write.parquet(s"$root/data/b1")
    Manifest.commit(s, root, s"$root/data/b1")
    batch(k, 2 * k).write.parquet(s"$root/data/b2")
    val v2 = Manifest.commit(s, root, s"$root/data/b2")
    val res = RowDelete.deleteWhere(s, root,
      col("l_orderkey").between(k + k / 3, k + k / 3 + (4 * k) / 15 - 1),
      s"$root/data/del1")
    require(res.carried == Seq(s"$root/data/b1"),
      s"the unaffected directory must carry verbatim, got ${res.carried}")
    require(res.rewritten.size == 1,
      "exactly the directory containing matches is rewritten")
    val noop = RowDelete.deleteWhere(s, root,
      col("l_orderkey") === -1, s"$root/data/del2")
    require(noop.version == res.version && noop.rewritten.isEmpty,
      "a delete matching nothing must not commit a new version")
    def census(v: Int, tag: Int) = Manifest.snapshot(s, root, Some(v))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("phase", lit(tag))
    census(v2, 0).unionByName(census(res.version, 1))
      .select(col("phase"), col("l_returnflag"), col("n"),
        col("sum_okey"), col("sum_cents"))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io20Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |snap AS (
      |  SELECT 0 AS phase, * FROM li
      |  UNION ALL
      |  SELECT 1, li.* FROM li, mk WHERE l_orderkey
      |    NOT BETWEEN k + k // 3 AND k + k // 3 + (4 * k) // 15 - 1)
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** MERGE-ON-READ delete + fold under the gate
    * ([[graft.io.MergeOnRead]]) — the write-cheap half of the delete
    * trade: a takedown commits only a keys-sized TOMBSTONE directory
    * (appending — data untouched), readers anti-join the broadcast
    * tombstone set, and the maintenance [[graft.io.MergeOnRead.fold]]
    * later applies the accumulated tombstones copy-on-write, returning
    * the read path to zero overhead. Censuses pin all three phases:
    * pre-delete, merged-on-read (tombstones live), and post-fold — the
    * last two must be IDENTICAL, which is the whole merge-on-read
    * contract (deferral must never change what readers see). In-query
    * requires pin the mechanics: the tombstone commit leaves every data
    * directory untouched, a no-match delete commits nothing, the fold
    * carries the unaffected directory verbatim and leaves no tombstone
    * entries behind.
    */
  def io21MorDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Manifest, MergeOnRead}
    val root = tmpDir(s) + "/graft_io21_tbl"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val k = okeyUnit(s, dir)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    batch(0, k).write.parquet(s"$root/data/b1")
    Manifest.commit(s, root, s"$root/data/b1")
    batch(k, 2 * k).write.parquet(s"$root/data/b2")
    val v2 = Manifest.commit(s, root, s"$root/data/b2")
    val v3 = MergeOnRead.deleteWhere(s, root, "l_orderkey",
      col("l_orderkey").between(k + k / 3, k + k / 3 + (4 * k) / 15 - 1),
      s"$root/data")
    require(v3.nonEmpty, "a matching delete must commit a tombstone")
    require(Manifest.entries(s, root).take(2) ==
      Seq(s"$root/data/b1", s"$root/data/b2"),
      "a merge-on-read delete must leave every data directory in place")
    require(MergeOnRead.deleteWhere(s, root, "l_orderkey",
        col("l_orderkey") === -1, s"$root/data").isEmpty,
      "a delete matching nothing must not commit")
    val folded = MergeOnRead.fold(s, root, "l_orderkey", s"$root/data")
    require(folded.exists(r => r.carried == Seq(s"$root/data/b1") &&
      r.rewritten.size == 1),
      s"fold must carry b1 verbatim and rewrite only b2, got $folded")
    require(!Manifest.entries(s, root).exists(MergeOnRead.isTombstone),
      "after the fold no tombstone entries remain")
    def census(v: Int, tag: Int) =
      MergeOnRead.snapshot(s, root, "l_orderkey", Some(v))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
          sum(col("cents")).as("sum_cents"))
        .withColumn("phase", lit(tag))
    census(v2, 0).unionByName(census(v3.get, 1))
      .unionByName(census(folded.get.version, 2))
      .select(col("phase"), col("l_returnflag"), col("n"),
        col("sum_okey"), col("sum_cents"))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io21Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |del AS (SELECT li.* FROM li, mk WHERE l_orderkey
      |  NOT BETWEEN k + k // 3 AND k + k // 3 + (4 * k) // 15 - 1),
      |snap AS (
      |  SELECT 0 AS phase, * FROM li
      |  UNION ALL SELECT 1, * FROM del
      |  UNION ALL SELECT 2, * FROM del)
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** Copy-on-write MERGE upsert under the gate ([[graft.io.Merge]]) —
    * `MERGE INTO … WHEN MATCHED THEN UPDATE * WHEN NOT MATCHED THEN
    * INSERT *` as ONE replacing commit. The censuses pin pre-merge
    * beside post-merge: matched keys' rows are REPLACED by their source
    * rows (key-replacing upsert), unmatched source rows are inserts,
    * everything else is untouched. In-query requires pin the write-IO
    * contract: the directory holding no matched key carries verbatim,
    * only the affected one rewrites (+ the appended source), and an
    * empty source commits nothing.
    */
  def io22MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Manifest, Merge}
    val root = tmpDir(s) + "/graft_io22_tbl"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val k = okeyUnit(s, dir)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    batch(0, k).write.parquet(s"$root/data/b1")
    Manifest.commit(s, root, s"$root/data/b1")
    batch(k, 2 * k).write.parquet(s"$root/data/b2")
    val v2 = Manifest.commit(s, root, s"$root/data/b2")
    val keys = Tables.lineitem(s, dir).select(col("l_orderkey")).distinct()
    val src = keys.filter(col("l_orderkey").between(k / 3, (2 * k) / 3 - 1))
      .select(col("l_orderkey"), lit("U").as("l_returnflag"),
        (col("l_orderkey") * 7).as("cents"))
      .unionByName(keys
        .filter(col("l_orderkey").between(2 * k, 2 * k + k / 3 - 1))
        .select(col("l_orderkey"), lit("I").as("l_returnflag"),
          (col("l_orderkey") * 3).as("cents")))
    val res = Merge.upsert(s, root, "l_orderkey", src, s"$root/data")
    require(res.exists(r => r.carried == Seq(s"$root/data/b2") &&
      r.rewritten.size == 2),
      s"upsert must carry b2 verbatim, rewrite b1 + append source: $res")
    require(Merge.upsert(s, root, "l_orderkey", src.limit(0),
        s"$root/data").isEmpty,
      "an empty source must not commit")
    def census(v: Int, tag: Int) = Manifest.snapshot(s, root, Some(v))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("phase", lit(tag))
    census(v2, 0).unionByName(census(res.get.version, 1))
      .select(col("phase"), col("l_returnflag"), col("n"),
        col("sum_okey"), col("sum_cents"))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io22Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |src AS (
      |  SELECT l_orderkey, 'U' AS l_returnflag, l_orderkey * 7 AS cents
      |  FROM (SELECT DISTINCT l_orderkey FROM lineitem, mk
      |        WHERE l_orderkey BETWEEN k // 3 AND (2 * k) // 3 - 1)
      |  UNION ALL
      |  SELECT l_orderkey, 'I', l_orderkey * 3
      |  FROM (SELECT DISTINCT l_orderkey FROM lineitem, mk
      |        WHERE l_orderkey BETWEEN 2 * k AND 2 * k + k // 3 - 1)),
      |merged AS (
      |  SELECT * FROM li WHERE l_orderkey NOT IN
      |    (SELECT l_orderkey FROM src)
      |  UNION ALL SELECT * FROM src),
      |snap AS (
      |  SELECT 0 AS phase, * FROM li
      |  UNION ALL SELECT 1, * FROM merged)
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** Incremental version-diff reads under the gate
    * ([[graft.io.ChangeFeed]]) — the change feed a downstream consumer
    * processes instead of re-reading the table. Three windows pinned:
    * an appending window after the tombstone delete (fast path — inserts
    * read only appended dirs), a wider appending window, and the SAME
    * logical window re-read after a [[graft.io.MergeOnRead.fold]]
    * rewrote history (fallback full-diff path). The first and third
    * censuses are demanded IDENTICAL — the fallback must agree with the
    * incremental path wherever both apply, and a replacing maintenance
    * commit must not change what the feed reports.
    */
  def io23Incremental(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{ChangeFeed, Manifest, MergeOnRead}
    val root = tmpDir(s) + "/graft_io23_tbl"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val k = okeyUnit(s, dir)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    // all three batch directories in ONE source pass (the three range
    // writes scanned lineitem three times); commits keep their order,
    // so the version chain (b1=1, b2=2, delete=3, b3=4) is unchanged
    val ok = col("l_orderkey")
    writeBatches(s, root, batch(0, 2 * k + (2 * k) / 5),
      when(ok < 0, -1).when(ok < k, 0).when(ok < 2 * k, 1).otherwise(2),
      3, b => s"b${b + 1}")
    Manifest.commit(s, root, s"$root/data/b1")
    val v2 = Manifest.commit(s, root, s"$root/data/b2")
    val v3 = MergeOnRead.deleteWhere(s, root, "l_orderkey",
      col("l_orderkey").between(k / 3, k / 3 + k / 15 - 1),
      s"$root/data").get
    val v4 = Manifest.commit(s, root, s"$root/data/b3")
    val folded = MergeOnRead.fold(s, root, "l_orderkey", s"$root/data").get
    require(!Manifest.entries(s, root, Some(folded.version))
        .startsWith(Manifest.entries(s, root, Some(v2))),
      "the folded window must exercise the full-diff fallback")
    def census(df: DataFrame, tag: Int) = df
      .groupBy(col("_op").as("op"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("phase", lit(tag))
    census(ChangeFeed.changesBetween(s, root, "l_orderkey", v2, v4), 0)
      .unionByName(census(
        ChangeFeed.changesBetween(s, root, "l_orderkey", v2 - 1, v4), 1))
      .unionByName(census(ChangeFeed.changesBetween(s, root, "l_orderkey",
        v2, folded.version), 2))
      .select(col("phase"), col("op"), col("l_returnflag"), col("n"),
        col("sum_okey"), col("sum_cents"))
      .orderBy(col("phase"), col("op"), col("l_returnflag"))
  }

  val io23Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk
      |  WHERE l_orderkey < 2 * k + (2 * k) // 5),
      |b2 AS (SELECT li.* FROM li, mk WHERE l_orderkey >= k
      |       AND l_orderkey < 2 * k),
      |b3 AS (SELECT li.* FROM li, mk WHERE l_orderkey >= 2 * k),
      |d AS (SELECT li.* FROM li, mk
      |  WHERE l_orderkey BETWEEN k // 3 AND k // 3 + k // 15 - 1),
      |f0 AS (SELECT 'I' AS op, * FROM b3
      |       UNION ALL SELECT 'D', * FROM d),
      |f1 AS (SELECT 'I' AS op, * FROM b2
      |       UNION ALL SELECT 'I', * FROM b3
      |       UNION ALL SELECT 'D', * FROM d),
      |snap AS (
      |  SELECT 0 AS phase, * FROM f0
      |  UNION ALL SELECT 1, * FROM f1
      |  UNION ALL SELECT 2, * FROM f0)
      |SELECT phase, op, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2, 3 ORDER BY phase, op, l_returnflag"""
      .stripMargin

  /** Directory-granular skip-stats pruning under the gate
    * ([[graft.io.SkipStats]]) — Iceberg-manifest/Delta-file-stats scan
    * planning: each committed directory carries a min/max sidecar and a
    * range query drops whole directories before the scan exists. The
    * two census phases — pruned scan beside full-snapshot filter — are
    * demanded IDENTICAL: pruning is an IO optimization, never a
    * semantic one. In-query requires pin the planning itself: the mid
    * range keeps exactly the overlapping directory plus the sidecar-less
    * one (conservative keep — a foreign/rewritten directory can never be
    * wrongly skipped), an out-of-range probe keeps only the sidecar-less
    * directory and returns zero rows.
    */
  def io24SkipScan(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Manifest, SkipStats}
    val root = tmpDir(s) + "/graft_io24_tbl"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val u = okeyUnit(s, dir, 15)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    // all four batch directories in ONE source pass (the loop scanned
    // lineitem once per batch); the per-dir sidecar/commit discipline
    // below is unchanged, so versions and pruning facts are identical
    val ok = col("l_orderkey")
    writeBatches(s, root, batch(0, 3 * u + u / 10),
      when(ok < 0, -1).when(ok < u, 0).when(ok < 2 * u, 1)
        .when(ok < 3 * u, 2).otherwise(3),
      4, b => s"b${b + 1}")
    for (name <- Seq("b1", "b2", "b3")) {
      SkipStats.write(s, s"$root/data/$name", Seq("l_orderkey"))
      Manifest.commit(s, root, s"$root/data/$name")
    }
    Manifest.commit(s, root, s"$root/data/b4") // no sidecar
    val (plo, phi) = (u + u / 5, u + (4 * u) / 5 - 1)
    val (kept, skipped) = SkipStats.prunedDirs(s, root, "l_orderkey",
      plo.toString, phi.toString)
    require(kept == Seq(s"$root/data/b2", s"$root/data/b4") &&
      skipped.size == 2,
      s"mid-range must keep the overlapping dir + the statless dir: $kept")
    require(SkipStats.prunedDirs(s, root, "l_orderkey",
        (5 * u).toString, (6 * u - 1).toString)
        ._1 == Seq(s"$root/data/b4"),
      "an out-of-range probe keeps only the statless dir")
    require(SkipStats.scan(s, root, "l_orderkey", 5 * u, 6 * u - 1)
        .isEmpty,
      "the conservative keep still returns zero out-of-range rows")
    def census(df: DataFrame, tag: Int) = df
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("phase", lit(tag))
    census(SkipStats.scan(s, root, "l_orderkey", plo, phi), 0)
      .unionByName(census(Manifest.snapshot(s, root)
        .filter(col("l_orderkey").between(plo, phi)), 1))
      .select(col("phase"), col("l_returnflag"), col("n"),
        col("sum_okey"), col("sum_cents"))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io24Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 15 AS u FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk
      |  WHERE l_orderkey BETWEEN u + u // 5 AND u + (4 * u) // 5 - 1),
      |snap AS (
      |  SELECT 0 AS phase, * FROM li
      |  UNION ALL SELECT 1, * FROM li)
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** Exactly-once change-feed consumption under the gate
    * ([[graft.io.ChangeFeed.sync]]) — the downstream half of CDC: a
    * consumer replicates a source table's changes into its own manifest
    * table, with the replication cursor encoded IN the output manifest
    * (the sync directory is named for the source version it covers), so
    * delivery is exactly-once by idempotent commit — st8's replay guard
    * applied to CDC. The census over the replicated table must equal
    * the source's net change history. In-query requires pin the
    * cursor mechanics: first sync bootstraps the full snapshot,
    * re-sync with no new version is a no-op, the second sync picks up
    * exactly the delete + append window, and the cursor reads back as
    * the latest source version.
    */
  def io25FeedSync(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{ChangeFeed, Manifest, MergeOnRead}
    val src = tmpDir(s) + "/graft_io25_src"
    val out = tmpDir(s) + "/graft_io25_out"
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val k = okeyUnit(s, dir)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    batch(0, k).write.parquet(s"$src/data/b1")
    Manifest.commit(s, src, s"$src/data/b1")
    batch(k, 2 * k).write.parquet(s"$src/data/b2")
    Manifest.commit(s, src, s"$src/data/b2")
    require(ChangeFeed.sync(s, src, "l_orderkey", out, s"$out/data")
      .contains(2), "first sync must bootstrap to the latest version")
    require(ChangeFeed.sync(s, src, "l_orderkey", out, s"$out/data")
      .isEmpty, "sync with no new source version must be a no-op")
    MergeOnRead.deleteWhere(s, src, "l_orderkey",
      col("l_orderkey").between(k / 3, k / 3 + k / 15 - 1), s"$src/data")
    batch(2 * k, 2 * k + (2 * k) / 5).write.parquet(s"$src/data/b3")
    Manifest.commit(s, src, s"$src/data/b3")
    require(ChangeFeed.sync(s, src, "l_orderkey", out, s"$out/data")
      .contains(4), "second sync must cover the delete + append window")
    require(Manifest.versions(s, out).size == 2 &&
      ChangeFeed.cursorOf(s, out).contains(4),
      "two sync commits, cursor at the latest source version")
    Manifest.snapshot(s, out)
      .groupBy(col("_op").as("op"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .select(col("op"), col("l_returnflag"), col("n"),
        col("sum_okey"), col("sum_cents"))
      .orderBy(col("op"), col("l_returnflag"))
  }

  val io25Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk
      |  WHERE l_orderkey < 2 * k + (2 * k) // 5),
      |f AS (
      |  SELECT 'I' AS op, * FROM li
      |  UNION ALL SELECT 'D', li.* FROM li, mk
      |    WHERE l_orderkey BETWEEN k // 3 AND k // 3 + k // 15 - 1)
      |SELECT op, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM f GROUP BY 1, 2 ORDER BY op, l_returnflag""".stripMargin

  /** STREAM-driven change-feed replication — io25's consumer run inside
    * the producer's streaming loop: each microbatch commits into the
    * source table (st8's exactly-once recipe) and then syncs the
    * replica, so the replication lag is one microbatch and the cursor
    * (encoded in the replica's own manifest) advances with the stream.
    * A takedown lands after the bounded run and one final sync carries
    * its D pre-images — the append windows themselves read only
    * appended bytes. The replica's materialized feed must census
    * exactly like a batch recomputation REGARDLESS of how the engine
    * batched the files: per-batch windows make every row's I exactly
    * once, and the post-stream delete's pre-images are
    * batching-invariant because every victim is present at the
    * pre-delete version.
    */
  def st14StreamFeedSync(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.{ChangeFeed, Manifest, MergeOnRead}
    val base = tmpDir(s) + "/graft_st14"
    val hp = new org.apache.hadoop.fs.Path(base)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val (src, out) = (s"$base/src", s"$base/out")
    Tables.documents(s, dir).filter(col("doc_id") < 400)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .repartition(4).write.parquet(s"$base/feed_src")
    val schema = s.read.parquet(s"$base/feed_src").schema
    val ingest = (batch: DataFrame, batchId: Long) => {
      if (!batch.isEmpty) {
        val ss = batch.sparkSession
        val bDir = s"$base/data/b$batchId"
        if (!Manifest.committed(ss, src).contains(bDir)) {
          batch.write.mode("overwrite").parquet(bDir)
          Manifest.commitIfAbsent(ss, src, bDir)
        }
        ChangeFeed.sync(ss, src, "doc_id", out, s"$out/data")
      }
      ()
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed_src")
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    val streamedSyncs = Manifest.versions(s, out).size
    require(streamedSyncs >= 2,
      s"replication must have followed the stream, got $streamedSyncs syncs")
    // the takedown arrives after the bounded run; one sync propagates it
    MergeOnRead.deleteKeys(s, src, "doc_id",
      Tables.documents(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id")), s"$base/data")
    require(ChangeFeed.sync(s, src, "doc_id", out, s"$out/data").isDefined,
      "the delete window must sync")
    Manifest.snapshot(s, out)
      .groupBy(col("_op").as("op"))
      .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_id"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("op"))
  }

  val st14Oracle: String =
    """WITH b AS (SELECT doc_id, lang, n_chars FROM documents
      |  WHERE doc_id < 400),
      |f AS (SELECT 'I' AS op, * FROM b
      |  UNION ALL SELECT 'D', * FROM b WHERE doc_id < 50)
      |SELECT op, COUNT(*) AS n_rows, CAST(SUM(doc_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM f GROUP BY 1 ORDER BY op""".stripMargin

  /** Orphan-directory sweep under the gate
    * ([[graft.io.Manifest.sweepOrphans]]) — the reclaim the commit
    * protocol's own crash artifact needs: a writer that died between
    * landing its directory and committing leaves invisible data that
    * neither readers nor [[graft.io.Manifest.expire]] will ever touch.
    * The censuses pin that sweeping changes NOTHING visible (pre/post
    * snapshot identical); the in-query requires pin the sweep itself:
    * exactly the unreferenced directories go, every referenced entry
    * stays on disk, and the grace window protects a just-landed
    * directory whose commit is still in flight.
    */
  def io26OrphanSweep(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val root = tmpDir(s) + "/graft_io26_tbl"
    val hp = new org.apache.hadoop.fs.Path(root)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val k = okeyUnit(s, dir)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    batch(0, k).write.parquet(s"$root/data/b1")
    Manifest.commit(s, root, s"$root/data/b1")
    batch(k, 2 * k).write.parquet(s"$root/data/b2")
    Manifest.commit(s, root, s"$root/data/b2")
    // two crashed writers: landed, never committed
    batch(0, k / 15).write.parquet(s"$root/data/orphan1")
    batch(k / 15, (2 * k) / 15).write.parquet(s"$root/data/orphan2")
    def census(tag: Int) = Manifest.snapshot(s, root)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("phase", lit(tag))
    val pre = census(0)
    // a fresh directory inside the grace window must survive the sweep —
    // and the DEFAULT grace is the conservative hour, so the bare call
    // is the safe one
    require(Manifest.sweepOrphans(s, root, s"$root/data").isEmpty,
      "everything here is younger than the default grace window")
    val swept = Manifest.sweepOrphans(s, root, s"$root/data",
      graceMs = 0L)
    require(swept == Seq(s"$root/data/orphan1", s"$root/data/orphan2")
        .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath),
      s"exactly the unreferenced directories go, got $swept")
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/b1")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/b2")),
      "referenced directories must never be swept")
    require(Manifest.sweepOrphans(s, root, s"$root/data",
        graceMs = 0L).isEmpty,
      "a second sweep finds nothing")
    pre.unionByName(census(1))
      .select(col("phase"), col("l_returnflag"), col("n"),
        col("sum_okey"), col("sum_cents"))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io26Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |snap AS (
      |  SELECT 0 AS phase, * FROM li
      |  UNION ALL SELECT 1, * FROM li)
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** ZERO-COPY table branching — [[graft.io.Manifest.shallowClone]]
    * (Delta shallow CLONE): version 1 of the clone pins exactly the
    * source's committed directories with ONE manifest write, no data
    * movement, which is what makes "branch a 100 TB table for an
    * experiment" O(1). The gate then appends a different batch to each
    * side and demands three censuses: the clone as cloned (time travel
    * to its v1), the diverged source, and the diverged clone — plus a
    * physical pin that the clone root holds no data directories of its
    * own, and that cloning onto a live table refuses.
    */
  def io27Clone(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val base = tmpDir(s) + "/graft_io27"
    val hp = new org.apache.hadoop.fs.Path(base)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val (src, cln) = (s"$base/src", s"$base/clone")
    val k = okeyUnit(s, dir)
    // all four batches from ONE scan: tag each row with its batch and
    // let the partitioned write fan the directories out (vs four
    // filtered scans of lineitem — same dirs, a quarter of the read IO)
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") < 4 * k)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        expr(s"l_orderkey div $k").cast("int").as("b"))
      .write.partitionBy("b").parquet(s"$base/data")
    Manifest.commit(s, src, s"$base/data/b=0")
    Manifest.commit(s, src, s"$base/data/b=1")
    val cloneV = Manifest.shallowClone(s, src, cln)
    // zero-copy pin: the clone root is ONE manifest file plus the
    // chained-clone source registry — still O(1) metadata, no data
    val cloneFiles = fs.listStatus(new org.apache.hadoop.fs.Path(cln))
      .map(_.getPath.getName).toSeq.sorted
    require(cloneFiles == Seq("_clone_sources", "manifest-v000001"),
      s"shallow clone must write only metadata, found $cloneFiles")
    // cloning onto a live table must refuse, not silently orphan history
    val refused =
      try { Manifest.shallowClone(s, src, cln); false }
      catch { case _: IllegalArgumentException => true }
    require(refused, "clone onto a non-empty table must refuse")
    // diverge both sides independently
    Manifest.commit(s, src, s"$base/data/b=2")
    Manifest.commit(s, cln, s"$base/data/b=3")
    def census(df: DataFrame, tag: Int) = df
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("phase", lit(tag))
    census(Manifest.snapshot(s, cln, Some(cloneV)), 0)
      .unionByName(census(Manifest.snapshot(s, src), 1))
      .unionByName(census(Manifest.snapshot(s, cln), 2))
      .select(col("phase"), col("l_returnflag"), col("n"),
        col("sum_okey"), col("sum_cents"))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io27Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents, k FROM lineitem, mk),
      |snap AS (
      |  SELECT 0 AS phase, * EXCLUDE (k) FROM li WHERE l_orderkey < 2 * k
      |  UNION ALL
      |  SELECT 1, * EXCLUDE (k) FROM li WHERE l_orderkey < 3 * k
      |  UNION ALL
      |  SELECT 2, * EXCLUDE (k) FROM li WHERE l_orderkey < 2 * k
      |    OR (l_orderkey >= 3 * k AND l_orderkey < 4 * k))
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** Write-time constraint enforcement —
    * [[graft.io.Constraints.commitChecked]] (Delta invariants / SQL
    * CHECK): a batch violating any declared constraint is rejected
    * WHOLE before its manifest commit, its staged files deleted, the
    * table untouched. The gate ingests three batches of `documents`:
    * batch 2 arrives corrupted (NULLed ids) and must bounce; the CHECK
    * predicates also exercise the UNKNOWN-passes rule (rows where the
    * predicate is NULL pass, per ANSI CHECK). The final table is
    * batches 1 and 3 exactly — which is precisely what the oracle can
    * state without knowing anything about staging or manifests.
    */
  def io28Constraints(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Constraints, Manifest}
    val root = tmpDir(s) + "/graft_io28_tbl"
    val hp = new org.apache.hadoop.fs.Path(root)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val constraints = Seq(
      "doc_id_not_null" -> col("doc_id").isNotNull,
      "n_chars_nonneg" -> (col("n_chars") >= 0),
      // UNKNOWN passes: NULL predicate rows are NOT violations
      "chk_unknown_passes" -> when(col("doc_id") % 10 === 0,
        lit(null).cast("boolean")).otherwise(col("n_chars") >= 0))
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    Constraints.commitChecked(s, root, slice(0, 100),
      s"$root/data/b1", constraints)
    // batch 2 arrives with ids corrupted to NULL — bounce it whole
    val corrupt = slice(100, 200).withColumn("doc_id",
      when(col("doc_id") % 7 === 3, lit(null).cast("long"))
        .otherwise(col("doc_id")))
    val bounced =
      try {
        Constraints.commitChecked(s, root, corrupt,
          s"$root/data/b2", constraints)
        Seq.empty
      } catch {
        case e: Constraints.ConstraintViolationException => e.violations
      }
    require(bounced.map(_.name) == Seq("doc_id_not_null"),
      s"exactly the NOT NULL constraint trips, got $bounced")
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/b2")),
      "a rejected batch's staged files must be deleted")
    require(Manifest.versions(s, root) == Seq(1),
      "a rejected batch must not burn a version")
    Constraints.commitChecked(s, root, slice(200, 300),
      s"$root/data/b3", constraints)
    Manifest.snapshot(s, root).orderBy(col("doc_id"))
  }

  val io28Oracle: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id < 100 OR (doc_id >= 200 AND doc_id < 300)
      |ORDER BY doc_id""".stripMargin

  /** Row-level constraint QUARANTINE —
    * [[graft.io.Constraints.commitQuarantined]], the dead-letter
    * complement of io28's batch-level abort: a mostly-good batch lands
    * minus its corrupt rows, which commit into a quarantine table
    * tagged with the constraint they failed — queryable for triage,
    * never silently dropped. The gate corrupts a deterministic subset
    * of batch 2 (NULLed ids), ingests three batches, and emits BOTH
    * tables' contents; the oracle reproduces the exact split from
    * `documents`, including the first-failed-constraint tag and the
    * no-quarantine-version-for-clean-batches protocol pin.
    */
  def io30Quarantine(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Constraints, Manifest}
    val base = tmpDir(s) + "/graft_io30"
    val hp = new org.apache.hadoop.fs.Path(base)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val (root, qRoot) = (s"$base/tbl", s"$base/quar")
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val constraints = Seq(
      "doc_id_not_null" -> col("doc_id").isNotNull,
      "n_chars_nonneg" -> (col("n_chars") >= 0))
    def land(df: DataFrame, b: Int) =
      Constraints.commitQuarantined(s, root, qRoot, df,
        s"$base/data/b$b", s"$base/data/q$b", constraints)
    val r1 = land(docs.filter(col("doc_id") < 100), 1)
    require(r1._2.isEmpty,
      "a clean batch must not burn a quarantine version")
    val corrupt = docs
      .filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .withColumn("doc_id", when(col("doc_id") % 7 === 3,
        lit(null).cast("long")).otherwise(col("doc_id")))
    val r2 = land(corrupt, 2)
    require(r2._2 == Some(1), "the corrupt rows must route to quarantine")
    land(docs.filter(col("doc_id") >= 200 && col("doc_id") < 300), 3)
    require(Manifest.versions(s, qRoot) == Seq(1),
      "clean batches leave the quarantine table untouched")
    Manifest.snapshot(s, root)
      .select(lit("main").as("tbl"), col("doc_id"), col("lang"),
        col("n_chars"), lit(null).cast("string").as("violation"))
      .unionByName(Manifest.snapshot(s, qRoot)
        .select(lit("quarantine").as("tbl"), col("doc_id"), col("lang"),
          col("n_chars"), col("violation")))
      .orderBy(col("tbl"), col("doc_id"))
  }

  val io30Oracle: String =
    """WITH b AS (SELECT CASE WHEN doc_id >= 100 AND doc_id < 200
      |      AND doc_id % 7 = 3 THEN NULL ELSE doc_id END AS doc_id,
      |    lang, n_chars FROM documents WHERE doc_id < 300)
      |SELECT 'main' AS tbl, doc_id, lang, n_chars,
      |  CAST(NULL AS VARCHAR) AS violation
      |FROM b WHERE doc_id IS NOT NULL
      |UNION ALL
      |SELECT 'quarantine', doc_id, lang, n_chars, 'doc_id_not_null'
      |FROM b WHERE doc_id IS NULL
      |ORDER BY tbl, doc_id""".stripMargin

  /** Catalog-level ATOMIC multi-table commit —
    * [[graft.io.Catalog]] (Iceberg-catalog / Nessie): an index is
    * usually several tables that must move together (t25's postings +
    * corpus stats; s14's lists + quantizer), and committing them
    * independently opens a window where a reader sees new postings
    * against old stats. The gate runs the real failure: batch 2 lands
    * in the postings TABLE but the writer dies before the stats commit
    * and the catalog pin. A catalog reader still resolves the old
    * CONSISTENT pair — the in-query requires pin that the torn state
    * exists at table level and is invisible through the catalog — and
    * after recovery the next pin publishes both atomically. The oracle
    * recomputes BOTH tables' censuses from `documents`, so the
    * hash-compare re-proves postings and stats agree in every phase.
    */
  def io29TxCatalog(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Catalog, Manifest}
    import graft.functions.TextFunctions.tokens
    val base = tmpDir(s) + "/graft_io29"
    val hp = new org.apache.hadoop.fs.Path(base)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val (pRoot, sRoot, cat) = (s"$base/postings", s"$base/stats",
      s"$base/cat")
    def postings(lo: Long, hi: Long) = Tables.documents(s, dir)
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    def landStats(batch: Int): Unit = {
      s.read.parquet(s"$base/data/p$batch")
        .agg(countDistinct(col("doc_id")).as("nd"),
          sum(col("tf")).as("tl"))
        .write.parquet(s"$base/data/s$batch")
      Manifest.commit(s, sRoot, s"$base/data/s$batch")
    }
    // transaction 1: both tables, then the atomic pin
    postings(0, 100).write.parquet(s"$base/data/p1")
    val pv1 = Manifest.commit(s, pRoot, s"$base/data/p1")
    landStats(1)
    Catalog.pin(s, cat, Seq(pRoot -> pv1, sRoot -> 1))
    // transaction 2 TORN: postings commit lands, writer dies before
    // the stats commit and the pin
    postings(100, 200).write.parquet(s"$base/data/p2")
    Manifest.commit(s, pRoot, s"$base/data/p2")
    def census(tag: Int) = {
      val p = Catalog.snapshotOf(s, cat, pRoot)
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_postings"), sum(col("tf")).as("sum_tf"))
      val st = Catalog.snapshotOf(s, cat, sRoot)
        .agg(sum(col("nd")).as("nd"), sum(col("tl")).as("tl"))
      p.crossJoin(st).withColumn("phase", lit(tag))
    }
    val phase0 = census(0)
    // the torn state is real at TABLE level, invisible via the catalog
    val tornDocs = Manifest.snapshot(s, pRoot)
      .select(countDistinct(col("doc_id"))).collect()(0).getLong(0)
    val catDocs = phase0.select(col("n_docs")).collect()(0).getLong(0)
    require(tornDocs > catDocs,
      s"table-level latest must already hold batch 2 ($tornDocs vs $catDocs)")
    // recovery: finish the transaction, then the atomic publish
    landStats(2)
    Catalog.pin(s, cat, Seq(pRoot -> 2, sRoot -> 2))
    phase0.unionByName(census(1))
      .select(col("phase"), col("n_docs"), col("n_postings"),
        col("sum_tf"), col("nd"), col("tl"))
      .orderBy(col("phase"))
  }

  val io29Oracle: String =
    """WITH t AS (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0
      |    THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)
      |    AS term FROM documents WHERE doc_id < 200),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
      |ph AS (SELECT 0 AS phase, * FROM tf WHERE doc_id < 100
      |  UNION ALL SELECT 1, * FROM tf)
      |SELECT phase, COUNT(DISTINCT doc_id) AS n_docs,
      |  COUNT(*) AS n_postings, CAST(SUM(tf) AS BIGINT) AS sum_tf,
      |  COUNT(DISTINCT doc_id) AS nd, CAST(SUM(tf) AS BIGINT) AS tl
      |FROM ph GROUP BY phase ORDER BY phase""".stripMargin

  /** Cross-table TIME TRAVEL through the catalog —
    * [[graft.io.Catalog.history]] / [[graft.io.Catalog.snapshotOfAt]]
    * (Nessie tags / Iceberg catalog history): a catalog version is a
    * consistent PAIR by construction, so replaying its history replays
    * exactly the cross-table states readers ever saw — "what did the
    * index look like yesterday" answered with postings and stats from
    * the SAME epoch, never a mix. The gate publishes two epochs of a
    * postings+stats pair, then drifts the postings TABLE with an
    * unpinned batch 3; in-query requires pin the history vectors, the
    * mtime-based AS-OF resolution of each publish instant, and that
    * the drift is invisible through every epoch. Phase 0 reads epoch 1
    * via the wall-clock [[graft.io.Catalog.snapshotOfAt]] path, phase 1
    * reads epoch 2 via the explicit-version path, and the oracle
    * recomputes both epochs' censuses from `documents` — the
    * hash-compare proves each phase saw its epoch's consistent pair.
    */
  def io32CatalogHistory(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Catalog, Manifest}
    import graft.functions.TextFunctions.tokens
    val base = tmpDir(s) + "/graft_io32"
    val hp = new org.apache.hadoop.fs.Path(base)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val (pRoot, sRoot, cat) = (s"$base/postings", s"$base/stats",
      s"$base/cat")
    def postings(lo: Long, hi: Long) = Tables.documents(s, dir)
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    def land(batch: Int, lo: Long, hi: Long): (Int, Int) = {
      postings(lo, hi).write.parquet(s"$base/data/p$batch")
      val pv = Manifest.commit(s, pRoot, s"$base/data/p$batch")
      s.read.parquet(s"$base/data/p$batch")
        .agg(countDistinct(col("doc_id")).as("nd"),
          sum(col("tf")).as("tl"))
        .write.parquet(s"$base/data/s$batch")
      (pv, Manifest.commit(s, sRoot, s"$base/data/s$batch"))
    }
    val (pv1, sv1) = land(1, 0, 100)
    val cv1 = Catalog.pin(s, cat, Seq(pRoot -> pv1, sRoot -> sv1))
    // distinct publish instants for the mtime AS-OF (ms granularity)
    Thread.sleep(50)
    val (pv2, sv2) = land(2, 100, 200)
    val cv2 = Catalog.pin(s, cat, Seq(pRoot -> pv2, sRoot -> sv2))
    // TABLE-level drift after the last publish: batch 3 lands unpinned
    postings(200, 250).write.parquet(s"$base/data/p3")
    Manifest.commit(s, pRoot, s"$base/data/p3")
    val hist = Catalog.history(s, cat)
    require(hist == Seq(
      cv1 -> Map(pRoot -> pv1, sRoot -> sv1),
      cv2 -> Map(pRoot -> pv2, sRoot -> sv2)),
      s"catalog history must replay both published vectors, got $hist")
    def pinInstant(cv: Int) = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(cat, f"manifest-v$cv%06d"))
      .getModificationTime
    val (t1, t2) = (pinInstant(cv1), pinInstant(cv2))
    require(Catalog.versionAt(s, cat, t1).contains(cv1) &&
      Catalog.versionAt(s, cat, t2).contains(cv2),
      "AS-OF must resolve each publish instant to its own epoch")
    require(Catalog.versionAt(s, cat, t1 - 3600000L).isEmpty,
      "AS-OF before the first publish must resolve to nothing")
    def census(p: DataFrame, st: DataFrame, tag: Int) =
      p.agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_postings"), sum(col("tf")).as("sum_tf"))
        .crossJoin(st.agg(sum(col("nd")).as("nd"),
          sum(col("tl")).as("tl")))
        .withColumn("phase", lit(tag))
    census(Catalog.snapshotOfAt(s, cat, pRoot, t1),
        Catalog.snapshotOfAt(s, cat, sRoot, t1), 0)
      .unionByName(census(Catalog.snapshotOf(s, cat, pRoot, Some(cv2)),
        Catalog.snapshotOf(s, cat, sRoot, Some(cv2)), 1))
      .select(col("phase"), col("n_docs"), col("n_postings"),
        col("sum_tf"), col("nd"), col("tl"))
      .orderBy(col("phase"))
  }

  val io32Oracle: String =
    """WITH t AS (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0
      |    THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)
      |    AS term FROM documents WHERE doc_id < 200),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
      |ph AS (SELECT 0 AS phase, * FROM tf WHERE doc_id < 100
      |  UNION ALL SELECT 1, * FROM tf)
      |SELECT phase, COUNT(DISTINCT doc_id) AS n_docs,
      |  COUNT(*) AS n_postings, CAST(SUM(tf) AS BIGINT) AS sum_tf,
      |  COUNT(DISTINCT doc_id) AS nd, CAST(SUM(tf) AS BIGINT) AS tl
      |FROM ph GROUP BY phase ORDER BY phase""".stripMargin

  /** Clone-aware RETENTION enforcement — the lifecycle io27's zero-copy
    * clone leaves open: a shallow clone references the SOURCE's data
    * directories, so vacuuming the source could silently destroy the
    * clone's read path. r9 closes it ([[graft.io.Manifest.expire]] +
    * the `_clones` registry): the gate clones the source at v1,
    * rewrites the source away from the shared directory, and REQUIRES
    * that expire refuses loudly — naming the registered clone and the
    * shared directory — with nothing reclaimed and the clone still
    * answering its census; after [[graft.io.Manifest.dropClone]] the
    * SAME expire succeeds and the directory is physically gone, with
    * the source's live version untouched. Phase 0 hashes the clone's
    * census through the protected directory (materialized before the
    * reclaim), phase 1 the source's live version AFTER it.
    */
  def io33CloneRetention(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val base = tmpDir(s) + "/graft_io33"
    val hp = new org.apache.hadoop.fs.Path(base)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val (src, cln) = (s"$base/src", s"$base/clone")
    val k = okeyUnit(s, dir)
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") < 2 * k)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        expr(s"l_orderkey div $k").cast("int").as("b"))
      .write.partitionBy("b").parquet(s"$base/data")
    Manifest.commit(s, src, s"$base/data/b=0")
    val cloneV = Manifest.shallowClone(s, src, cln)
    require(Manifest.registeredClones(s, src) == Seq(cln),
      "shallowClone must register the clone on the source")
    // the source moves on: a replacing rewrite supersedes the shared dir
    Manifest.rewrite(s, src, Seq(s"$base/data/b=1"))
    // retention with a live clone must refuse, naming clone and dir
    val refused =
      try { Manifest.expire(s, src, keepLast = 1); None }
      catch { case e: IllegalArgumentException => Some(e.getMessage) }
    require(refused.exists(m => m.contains(cln) &&
      m.contains(s"$base/data/b=0")),
      s"expire must refuse naming the clone and the shared dir: $refused")
    require(Manifest.versions(s, src) == Seq(1, 2) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$base/data/b=0")),
      "a refused expire must reclaim nothing")
    def census(df: DataFrame, tag: Int) = df
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("phase", lit(tag))
    // phase 0: the clone still answers through the protected dir —
    // materialized NOW (the expire below reclaims the dir this census
    // reads; a lazy plan would execute after the delete)
    val p0 = census(Manifest.snapshot(s, cln, Some(cloneV)), 0).staged()
    // dropClone releases the protection; the same expire now succeeds
    require(Manifest.dropClone(s, src, cln), "dropClone must deregister")
    require(Manifest.expire(s, src, keepLast = 1) == Seq(1),
      "expire must reclaim the superseded version after dropClone")
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/data/b=0")),
      "the superseded shared dir must be physically reclaimed")
    // phases 1/2: the source's live version before and after reclaim
    p0.unionByName(census(Manifest.snapshot(s, src), 1))
      .select(col("phase"), col("l_returnflag"), col("n"),
        col("sum_okey"), col("sum_cents"))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io33Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents, k FROM lineitem, mk),
      |snap AS (
      |  SELECT 0 AS phase, * EXCLUDE (k) FROM li WHERE l_orderkey < k
      |  UNION ALL
      |  SELECT 1, * EXCLUDE (k) FROM li
      |    WHERE l_orderkey >= k AND l_orderkey < 2 * k)
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** Partition backfill via DYNAMIC partition overwrite — the daily-job
    * reality: re-running one day must replace exactly that day's
    * partition and leave every other day's files untouched. With
    * `partitionOverwriteMode=dynamic`, `mode(Overwrite)` replaces only
    * the partitions present in the incoming batch (static mode would
    * truncate the whole table — the classic backfill footgun). The query
    * writes 3 day-partitions, backfills day 1 with corrected values
    * (cents doubled), and the census proves day 1 changed while days
    * 0 and 2 are byte-identical originals.
    */
  def io18Backfill(s: SparkSession, dir: String): DataFrame = {
    val out = tmpDir(s) + "/graft_io18_days"
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    def days = Tables.events(s, dir).filter(col("user_id") < 60)
      .select(col("event_id"), col("user_id"),
        (expr("ts DIV 86400000000000") % 3).cast("int").as("day"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      days.write.mode("overwrite").partitionBy("day").parquet(out)
      // backfill: day 1 re-lands with corrected amounts; the write's
      // input contains ONLY day 1, so only day=1/ is replaced
      days.filter(col("day") === 1)
        .withColumn("cents", col("cents") * 2)
        .write.mode("overwrite").partitionBy("day").parquet(out)
    } finally
      s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    s.read.parquet(out)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("day"))
  }

  val io18Oracle: String =
    """SELECT CAST((epoch_ns(ts) // 86400000000000) % 3 AS INT) AS day,
      |  COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    * CASE WHEN (epoch_ns(ts) // 86400000000000) % 3 = 1
      |      THEN 2 ELSE 1 END) AS BIGINT) AS sum_cents
      |FROM events WHERE user_id < 60
      |GROUP BY 1 ORDER BY day""".stripMargin

  private val st2Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Stream-stream inner join under the oracle gate: clicks × errors per
    * user within ±24 h event time, run as a REAL Structured Streaming
    * query ([[graft.streaming.StreamingPipeline.streamStreamJoin]]: dual
    * watermarks + event-time bound → evictable state) over a file-backed
    * source with `Trigger.AvailableNow`, then reduced in batch to
    * engine-exact integers. The whole input arrives in one microbatch
    * here, so no row is watermark-late and streaming output ≡ the batch
    * join — which is exactly what the DuckDB oracle replays. At scale the
    * join state is partitioned by user_id like any shuffle, and the ±24 h
    * bound is what lets the store evict rows as watermarks advance.
    */
  def st2StreamJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = Tables.eventsStream(s, dir)
    def side(t: String) = src
      .filter(col("event_type") === t && col("user_id") < 50)
      .select(col("user_id"),
        timestamp_micros(expr("ts DIV 1000")).as("ets"), col("event_id"))
    val joined = graft.streaming.StreamingPipeline.streamStreamJoin(
      side("click"), side("error"), "user_id", "ets", "ets",
      "48 hours", "24 hours")
    val name = s"graft_st2_${st2Seq.incrementAndGet()}"
    // A streaming query's state-store count is fixed by the shuffle
    // partitioning at first start (one store per partition per join side
    // per batch, each with checkpoint traffic) — size it to the stream's
    // volume, not the batch session default; restored after termination
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      joined.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("event_id")).as("sum_left"),
        sum(col("event_id_r")).as("sum_right"))
      .orderBy(col("user_id"))
  }

  val st2Oracle: String =
    """WITH l AS (SELECT user_id, epoch_us(ts) tsu, event_id FROM events
      |  WHERE event_type = 'click' AND user_id < 50),
      |r AS (SELECT user_id, epoch_us(ts) tsu, event_id FROM events
      |  WHERE event_type = 'error' AND user_id < 50),
      |p AS (SELECT l.user_id, l.event_id le, r.event_id re
      |  FROM l JOIN r ON l.user_id = r.user_id
      |    AND r.tsu >= l.tsu - 86400000000 AND r.tsu <= l.tsu + 86400000000)
      |SELECT user_id, COUNT(*) AS n_pairs,
      |  CAST(SUM(le) AS BIGINT) AS sum_left,
      |  CAST(SUM(re) AS BIGINT) AS sum_right
      |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Stream-stream LEFT OUTER join as a REAL streaming run — the
    * alerting/enrichment shape st2's inner join can't express: every
    * left event must surface even when no right event ever arrives
    * (clicks with no error within the bound → null-padded row). Outer
    * results emit at STATE EVICTION, not on match: a left row
    * null-pads only once the global watermark (min across both
    * inputs' watermarks) passes its upper join bound, so a bounded
    * AvailableNow run withholds rows near the end of the stream whose
    * eviction point the final watermark never reaches. The gate
    * therefore reduces over left rows below an emission-safety cutoff
    * — final watermark minus the join bound minus an hour of slack —
    * computed by the SAME integer arithmetic on both sides, which is
    * exactly the production contract for bounded replays of an outer
    * join (a 100 TB backfill has the same tail). Right side is
    * restricted to `user_id < 25`, so users 25–49 null-pad ALWAYS and
    * users < 25 null-pad only where their per-row window is empty —
    * both outer paths exercised.
    */
  def st12StreamLeftJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = Tables.eventsStream(s, dir)
    def side(t: String, maxUser: Long) = src
      .filter(col("event_type") === t && col("user_id") < maxUser)
      .select(col("user_id"),
        timestamp_micros(expr("ts DIV 1000")).as("ets"), col("event_id"))
    val joined = graft.streaming.StreamingPipeline.streamStreamJoin(
      side("click", 50), side("error", 25), "user_id", "ets", "ets",
      "24 hours", "48 hours", "left_outer")
    val name = s"graft_st12_${st2Seq.incrementAndGet()}"
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      joined.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    // emission-safety cutoff from the STATIC table (one 1-row collect):
    // finalWatermark = min(max left ts, max right ts) - 24h delay;
    // guaranteed-resolved left rows sit a full bound + 1h below it
    val ev = Tables.events(s, dir)
    val mx = ev.agg(
      max(when(col("event_type") === "click" && col("user_id") < 50,
        expr("ts DIV 1000"))).as("ml"),
      max(when(col("event_type") === "error" && col("user_id") < 25,
        expr("ts DIV 1000"))).as("mr")).collect()(0)
    val cutoffUs = math.min(mx.getLong(0), mx.getLong(1)) -
      86400000000L - 172800000000L - 3600000000L
    s.table(name)
      .filter(unix_micros(col("ets")) <= cutoffUs)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("event_id_r")).as("n_matched"),
        sum(col("event_id")).as("sum_left"),
        sum(col("event_id_r")).as("sum_right"))
      .orderBy(col("user_id"))
  }

  val st12Oracle: String =
    """WITH l AS (SELECT user_id, epoch_us(ts) tsu, event_id FROM events
      |  WHERE event_type = 'click' AND user_id < 50),
      |r AS (SELECT user_id, epoch_us(ts) tsu, event_id FROM events
      |  WHERE event_type = 'error' AND user_id < 25),
      |cut AS (SELECT LEAST((SELECT MAX(tsu) FROM l),
      |    (SELECT MAX(tsu) FROM r))
      |    - 86400000000 - 172800000000 - 3600000000 AS c),
      |p AS (SELECT l.user_id, l.event_id le, r.event_id re
      |  FROM l LEFT JOIN r ON l.user_id = r.user_id
      |    AND r.tsu >= l.tsu - 172800000000
      |    AND r.tsu <= l.tsu + 172800000000
      |  WHERE l.tsu <= (SELECT c FROM cut))
      |SELECT user_id, COUNT(*) AS n_rows, COUNT(re) AS n_matched,
      |  CAST(SUM(le) AS BIGINT) AS sum_left,
      |  CAST(SUM(re) AS BIGINT) AS sum_right
      |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Event-time tumbling-window aggregation as a REAL streaming run —
    * §2.6's windowed-counts semantics under the oracle gate (st2's
    * pattern: file source, AvailableNow, memory sink, batch reduction).
    * The oracle replays the window arithmetic as epoch bucketing.
    * `complete` output mode: append withholds every window still above
    * the watermark at shutdown (the final windows of a bounded run), so
    * the complete table is what equals the batch oracle; production
    * pipelines run append + watermark eviction, covered with emission
    * timing in `StreamingSpec`. At scale the state is partitioned by
    * (window, key) like any shuffle.
    */
  def st3StreamWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = Tables.eventsStream(s, dir)
      .filter(col("user_id") < 20)
      .select(col("user_id"),
        timestamp_micros(expr("ts DIV 1000")).as("ets"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withWatermark("ets", "1 hour")
    val windowed = src
      .groupBy(window(col("ets"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .select(unix_micros(col("window.start")).as("win_us"),
        col("user_id"), col("n"), col("sum_cents"))
    val name = s"graft_st3_${st2Seq.incrementAndGet()}"
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      windowed.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name).orderBy(col("win_us"), col("user_id"))
  }

  val st3Oracle: String =
    """SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS win_us,
      |  user_id, COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM events WHERE user_id < 20
      |GROUP BY 1, 2 ORDER BY win_us, user_id""".stripMargin

  /** Schema evolution across parquet batches — the lake reality that a
    * long-lived dataset's early files lack columns added later: batch 1
    * writes (o_orderkey, cents), batch 2 adds o_orderpriority, and the
    * read unifies them with `mergeSchema` (schema union, missing columns
    * NULL). The aggregation proves both the union and the null semantics
    * engine-exactly. At 100 TB, mergeSchema's footer sweep is the cost to
    * watch — production tables pin the unified schema in a catalog and
    * pass it explicitly, which the read here models by aggregating to the
    * same result either way.
    */
  def io13SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val out = tmpDir(s) + "/graft_io13_evolving"
    val base = Tables.orders(s, dir).filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"), col("o_orderpriority"))
    base.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("cents"))
      .write.mode("overwrite").parquet(s"$out/batch=1")
    base.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("cents"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/batch=2")
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-schema>"))
        .as("priority"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("priority"))
  }

  val io13Oracle: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-schema>'
      |    ELSE o_orderpriority END AS priority,
      |  COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM orders WHERE o_orderkey < 2000
      |GROUP BY 1 ORDER BY priority""".stripMargin

  /** At-least-once → effectively-once dedup as a real streaming run: the
    * source REPLAYS every event with event_id % 5 == 0 (union of the
    * stream with its own filtered self — the redelivery pattern every
    * at-least-once bus produces), and `dropDuplicatesWithinWatermark` on
    * the id collapses them while the watermark bounds the dedup state.
    * The oracle is simply the distinct census — redeliveries must leave
    * no trace. State is keyed by event_id and evicted as the watermark
    * passes, so memory is bounded by the redelivery window, not the
    * stream length — the property that makes this viable on an unbounded
    * 100 TB/day bus.
    */
  def st4StreamDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    def src = Tables.eventsStream(s, dir)
      .filter(col("user_id") < 30)
      .select(col("event_id"), col("user_id"),
        timestamp_micros(expr("ts DIV 1000")).as("ets"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val redelivered = src.unionByName(src.filter(col("event_id") % 5 === 0))
      .withWatermark("ets", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val name = s"graft_st4_${st2Seq.incrementAndGet()}"
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      redelivered.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("user_id"))
  }

  val st4Oracle: String =
    """SELECT user_id, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM events WHERE user_id < 30
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Stream-static enrichment join — the dimension-lookup shape every
    * event pipeline needs (klio's BigQuery side-input analog): a
    * streaming fact source joins a STATIC dimension table, broadcast so
    * each microbatch is a stateless map-side hash join with zero
    * streaming state and zero shuffle of the stream. Spark re-plans the
    * static side per microbatch, which is what picks up dimension
    * updates between batches at no state cost — the property that makes
    * this the first-choice join on an unbounded bus (contrast st2's
    * stream-stream join, whose state store must hold both sides).
    * Streaming output ≡ batch join on a bounded run, which the oracle
    * replays.
    */
  def st5StreamStatic(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val dim = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val src = Tables.eventsStream(s, dir)
      .filter(col("user_id") < 100)
      .select(col("event_id"), col("user_id"), col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val enriched = src.join(broadcast(dim),
      col("user_id") === col("c_custkey"))
    val name = s"graft_st5_${st2Seq.incrementAndGet()}"
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      enriched.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name)
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  val st5Oracle: String =
    """SELECT c_mktsegment, event_type, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE user_id < 100
      |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin

  /** Keyed upsert sink via `foreachBatch` — the CDC/materialized-view
    * pattern: each microbatch MERGES into a keyed table, keeping the
    * newest row per key ("latest state per user"). The stream is split
    * into 4 files read with `maxFilesPerTrigger=1`, so the merge runs
    * across 4 REAL microbatches; the per-key winner is
    * max_by(row, (ts, event_id)) — associative and order-independent, so
    * the final table is deterministic whatever order the source lists
    * files in, and idempotent under batch replay (at-least-once sinks
    * re-run a batch after failure; re-merging the same rows changes
    * nothing). State lives in the TABLE (partitioned parquet), not the
    * state store: memory is bounded by key cardinality, not stream
    * length, and each merge is one shuffle of batch ∪ table by key. The
    * oracle replays "latest per user" with a window over the whole
    * input.
    */
  def st6StreamUpsert(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpDir(s) + s"/graft_st6_${st2Seq.incrementAndGet()}"
    // the per-JVM counter restarts at 1 every session, so a PREVIOUS
    // session's checkpoint can live at this exact path — a stale
    // checkpoint silently resumes against rewritten source files; start
    // from a clean root
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val srcDir = s"$root/src"
    Tables.events(s, dir).filter(col("user_id") < 80)
      .select(col("event_id"), col("user_id"),
        expr("ts DIV 1000").as("ts_us"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = s.read.parquet(srcDir).schema
    // alternating state generations: read gen i, merge, write gen i+1 —
    // never overwrite a directory while a scan of it is live
    var stateDir: Option[String] = None
    var gen = 0
    val merge = (batch: DataFrame, batchId: Long) => {
      // skip no-data microbatches: merging an empty batch is an identity
      // rewrite of the state, and it would make the generation count
      // timing-dependent (the engine occasionally schedules a final
      // empty batch)
      if (batch.isEmpty) ()
      else {
      val prev = stateDir.map(p => batch.sparkSession.read.parquet(p))
        .getOrElse(batch.limit(0))
      gen += 1
      val next = s"$root/state_$gen"
      // state keeps the batch's column names so merge N+1 can union it
      // with the next batch; the query's final projection renames
      prev.unionByName(batch)
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts_us"), col("event_id"), col("cents")))
          .as("w"))
        .select(col("user_id"), col("w.ts_us").as("ts_us"),
          col("w.event_id").as("event_id"), col("w.cents").as("cents"))
        .write.mode("overwrite").parquet(next)
      stateDir = Some(next)
      ()
      }
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.read.parquet(stateDir.get)
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("last_event_id"), col("cents").as("last_cents"))
      .orderBy(col("user_id"))
  }

  val st6Oracle: String =
    """SELECT user_id, epoch_us(ts) AS ts_us, event_id AS last_event_id,
      |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS last_cents
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events WHERE user_id < 80)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Z-order clustered layout + 2-D box query ([[graft.io.ZOrder]]) —
    * io11's partition pruning generalized to TWO dimensions: events are
    * bucketized to 8 bits per dimension (3-hour time bucket, value/2),
    * Morton-coded
    * with codegen'd shift/mask arithmetic, written partitioned by the
    * 4-bit z prefix and range-clustered by the full code inside each
    * partition. The box query enumerates intersecting prefixes on the
    * driver (a 16-cell constant loop, never data-sized) and filters
    * `zp IN (...)` — pruning at the partition LISTING, before a file
    * opens — then re-checks the exact predicates. Content is provably
    * layout-independent: the oracle recomputes the same Morton
    * arithmetic over the raw table, so clustering must neither lose nor
    * duplicate a row. At 100 TB this is the difference between scanning
    * every file for a 2-predicate query and scanning only the fraction
    * whose z cells intersect it; `LayoutSpec` asserts the scan
    * enumerates exactly the 3 intersecting partitions of the 16.
    */
  def io14Zorder(s: SparkSession, dir: String): DataFrame = {
    val out = tmpDir(s) + "/graft_io14_zorder"
    // 3-hour buckets since 2024-01-01 (0..239 over the 30-day stream at
    // EVERY sf) × value/2 buckets (0..245) — two dimensions that span
    // the 8-bit domain regardless of scale factor
    val bucketized = Tables.events(s, dir)
      .select(col("event_id"),
        (expr("ts DIV 10800000000000") - 157784L).as("tb"),
        least(floor(col("value") / 2).cast("long"), lit(255L)).as("vb"))
    val coded = bucketized
      .withColumn("zval", graft.io.ZOrder.zvalue8(col("tb"), col("vb")))
      .withColumn("zp", shiftright(col("zval"), 12).cast("int"))
    coded.repartitionByRange(8, col("zval"))
      .sortWithinPartitions(col("zval"))
      .write.mode("overwrite").partitionBy("zp").parquet(out)
    val prefixes = graft.io.ZOrder.prefixesFor(30, 150, 0, 30, 4)
    s.read.parquet(out)
      .filter(col("zp").isin(prefixes.map(Integer.valueOf): _*))
      .filter(col("tb").between(30, 150) && col("vb").between(0, 30))
      .select(col("event_id"), col("tb"), col("vb"), col("zval"))
      .orderBy(col("event_id"))
  }

  val io14Oracle: String =
    """WITH e AS (SELECT event_id,
      |    (epoch_us(ts) // 10800000000) - 157784 AS tb,
      |    LEAST(CAST(FLOOR(value / 2) AS BIGINT), 255) AS vb FROM events),
      |s1 AS (SELECT event_id, tb, vb,
      |    ((tb | (tb << 4)) & 3855) AS xa,
      |    ((vb | (vb << 4)) & 3855) AS ya FROM e),
      |s2 AS (SELECT event_id, tb, vb,
      |    ((xa | (xa << 2)) & 13107) AS xb,
      |    ((ya | (ya << 2)) & 13107) AS yb FROM s1),
      |s3 AS (SELECT event_id, tb, vb,
      |    ((xb | (xb << 1)) & 21845) AS xc,
      |    ((yb | (yb << 1)) & 21845) AS yc FROM s2)
      |SELECT event_id, tb, vb, (xc | (yc << 1)) AS zval FROM s3
      |WHERE tb BETWEEN 30 AND 150 AND vb BETWEEN 0 AND 30
      |ORDER BY event_id""".stripMargin

  /** Native streaming session windows (`session_window` under a real
    * streaming run) — the declarative sibling of the
    * flatMapGroupsWithState sessionizer st1 gates and q16 proves in
    * batch. Append mode only emits a session once the watermark passes
    * its end, and a bounded run's final no-data microbatch drives the
    * watermark to max(event time) − delay — so the emitted set is
    * exactly the sessions that CLOSED a full watermark-delay before the
    * stream's end, which the oracle replays as gaps-and-islands plus
    * that holdback predicate. The held-back tail is not lost output;
    * it's the still-open state an unbounded run would emit later — the
    * semantics to design around when a downstream job consumes session
    * output. State is partitioned by (user, session) like any shuffle
    * and evicted at emission.
    */
  def st7StreamSession(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = Tables.eventsStream(s, dir)
      .filter(col("user_id") < 30)
      .select(col("user_id"),
        timestamp_micros(expr("ts DIV 1000")).as("ets"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withWatermark("ets", "1 hour")
    val sess = src
      .groupBy(col("user_id"), session_window(col("ets"), "5 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n"), col("total_cents"))
    val name = s"graft_st7_${st2Seq.incrementAndGet()}"
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      sess.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name).orderBy(col("user_id"), col("start_us"))
  }

  val st7Oracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE user_id < 30),
      |-- Spark tracks event-time stats in MILLISECONDS (microsToMillis
      |-- truncation), so the final watermark is floor(max/1ms) - delay;
      |-- replaying the truncation here keeps the emission cutoff exact
      |-- instead of green-by-data-luck within the sub-ms remainder
      |wm AS (SELECT (MAX(tsu) // 1000) * 1000 - 3600000000 AS w FROM e),
      |x AS (SELECT *, CASE WHEN LAG(tsu) OVER win IS NULL
      |      OR tsu - LAG(tsu) OVER win >= 300000000 THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY tsu)),
      |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY tsu
      |    ROWS UNBOUNDED PRECEDING) AS sid FROM x),
      |sess AS (SELECT user_id, MIN(tsu) AS start_us,
      |    MAX(tsu) + 300000000 AS end_us, COUNT(*) AS n,
      |    CAST(SUM(cents) AS BIGINT) AS total_cents
      |  FROM g GROUP BY user_id, sid)
      |SELECT user_id, start_us, end_us, n, total_cents FROM sess
      |WHERE end_us <= (SELECT w FROM wm)
      |ORDER BY user_id, start_us""".stripMargin

  /** Exactly-once streaming lake ingestion — `foreachBatch` composed with
    * [[graft.io.Manifest]]: every microbatch writes an immutable batch
    * directory and COMMITS it as a manifest version, and the
    * commit-or-skip guard (`Manifest.committed`) makes a replayed batch
    * a no-op — at-least-once delivery from the engine becomes
    * exactly-once in the table, without any sink transaction support.
    * This is how Structured Streaming feeds an Iceberg/Delta-style table:
    * readers always see whole batches (snapshot isolation per commit),
    * and a crash between write and commit leaves only an invisible
    * orphan directory that the next run overwrites. 4 real microbatches
    * via maxFilesPerTrigger=1; the census over the FINAL snapshot must
    * equal the batch-input oracle.
    */
  def st8StreamIngest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.Manifest
    val root = tmpDir(s) + s"/graft_st8_${st2Seq.incrementAndGet()}"
    // clean root: the per-JVM counter restarts every session, and a stale
    // checkpoint at this path would resume against rewritten source files
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val srcDir = s"$root/src"
    val tbl = s"$root/tbl"
    Tables.events(s, dir).filter(col("user_id") < 40)
      .select(col("event_id"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = s.read.parquet(srcDir).schema
    val ingest = (batch: DataFrame, batchId: Long) => {
      val dest = s"$tbl/data/batch=$batchId"
      // skip no-data microbatches (the engine occasionally schedules a
      // final empty batch) — committing an empty directory is harmless
      // but would make the commit count timing-dependent;
      // replay guard: a batch already in the latest manifest is a no-op
      if (!batch.isEmpty &&
        !Manifest.committed(batch.sparkSession, tbl).contains(dest)) {
        // overwrite: a crash AFTER write but BEFORE commit leaves an
        // orphan this replay replaces before committing it; the commit
        // carries skip-stats so the streamed-in table is range-prunable
        // from its first batch, not only after a maintenance pass
        batch.write.mode("overwrite").parquet(dest)
        Manifest.commitWithStats(batch.sparkSession, tbl, dest,
          Seq("user_id", "event_id"))
      }
      ()
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    // 4 source files under maxFilesPerTrigger=1 ⇒ 4 data-carrying batches
    // ⇒ 4 commits; ≥2 is the load-bearing claim (really incremental),
    // stated as a range so an engine-scheduled empty batch can't flake it
    val nv = Manifest.versions(s, tbl).size
    require(nv >= 2 && nv <= 4,
      s"expected one manifest commit per data-carrying microbatch, got $nv")
    Manifest.snapshot(s, tbl)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("user_id"))
  }

  val st8Oracle: String =
    """SELECT user_id, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM events WHERE user_id < 40
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Checkpointed incremental ETL — the nightly-job pattern that replaces
    * hand-rolled "which files did I already process" bookkeeping: the
    * SAME streaming query runs twice with `Trigger.AvailableNow` against
    * a source that GROWS between invocations. The checkpoint makes run 2
    * process only the files that arrived since run 1, and the parquet
    * streaming sink's transaction log makes the output exactly-once (a
    * reprocessed file would double rows and break the hash — the oracle
    * equals the full input exactly once). No state store involved: this
    * is a stateless projection; the checkpoint tracks source progress
    * and the sink log tracks committed output files, which is the whole
    * production contract of incremental batch-on-streaming.
    */
  def st9IncrementalEtl(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpDir(s) + s"/graft_st9_${st2Seq.incrementAndGet()}"
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val srcDir = s"$root/src"
    val outDir = s"$root/out"
    def slice(lo: Long, hi: Long) = Tables.events(s, dir)
      .filter(col("user_id") >= lo && col("user_id") < hi)
      .select(col("event_id"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val schema = slice(0, 0).schema
    def runOnce(): Unit = {
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "2")
      try s.readStream.schema(schema).parquet(srcDir)
        .withColumn("doubled", col("cents") * 2)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    // night 1: the first batch of files arrives and is processed
    slice(0, 20).repartition(2).write.mode("append").parquet(srcDir)
    runOnce()
    // night 2: MORE files land; the checkpoint admits only the new ones
    slice(20, 40).repartition(2).write.mode("append").parquet(srcDir)
    runOnce()
    s.read.parquet(outDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("doubled")).as("sum_doubled"))
      .orderBy(col("user_id"))
  }

  val st9Oracle: String =
    """SELECT user_id, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) * 2)
      |    AS BIGINT) AS sum_doubled
      |FROM events WHERE user_id < 40
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Late-data census — the monitoring gate production streams publish
    * next to every watermark: HOW MANY rows arrived too late and were
    * dropped, measured from the engine's own
    * `numRowsDroppedByWatermark` state-operator metric and hash-gated
    * against DuckDB replaying the watermark arithmetic. Two
    * checkpointed `AvailableNow` runs (st9's two-night shape): night 1
    * establishes the watermark (max event time, ms-truncated, minus the
    * 48 h delay — persisted in the checkpoint); night 2 delivers an
    * out-of-order slice whose older rows fall beyond it. The stateful
    * dedup operator filters those rows RAW (one metric increment per
    * dropped input row — an aggregation would count partial-agg rows,
    * which is partitioning-dependent), so the dropped count is exactly
    * replayable: night-2 rows with `ets <= wm1`. The sentinel row also
    * carries accepted-count and dropped+accepted, so conservation
    * (nothing silently lost beyond the declared drops) is part of the
    * hash. At 100 TB this is the operator you alarm on: state stays
    * bounded by the watermark either way; the census tells you what
    * that bound COST in data.
    */
  def st18LateCensus(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpDir(s) + s"/graft_st18_${st2Seq.incrementAndGet()}"
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val srcDir = s"$root/src"
    val outDir = s"$root/out"
    def slice(lo: Long, hi: Long) = Tables.events(s, dir)
      .filter(col("user_id") >= lo && col("user_id") < hi)
      .select(col("event_id"), col("user_id"),
        timestamp_micros(expr("ts DIV 1000")).as("ets"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val schema = slice(0, 0).schema
    // one AvailableNow pass over whatever is new in srcDir; returns the
    // run's dropped-late count summed across its (single-data-batch)
    // progress records
    def runOnce(): Long = {
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "2")
      try {
        val q = s.readStream.schema(schema).parquet(srcDir)
          .withWatermark("ets", "48 hours")
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q.recentProgress.iterator.flatMap(_.stateOperators)
          .map(_.numRowsDroppedByWatermark).sum
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    // night 1: the on-time slice, one file ⇒ one data batch ⇒ the
    // watermark only moves AFTER all its rows are in (zero drops, which
    // the structural check pins — a multi-batch split would make drops
    // timing-dependent)
    slice(0, 30).coalesce(1).write.mode("append").parquet(srcDir)
    val d1 = runOnce()
    require(d1 == 0L,
      s"night-1 must process as one batch with no drops, got $d1")
    // night 2: a disjoint slice spanning the same 30 days lands late —
    // everything older than night-1's watermark is beyond recovery
    slice(30, 60).coalesce(1).write.mode("append").parquet(srcDir)
    val dropped = runOnce()
    val accepted = s.read.parquet(outDir)
    val acceptedN = accepted.count()
    accepted
      .groupBy(expr("user_id DIV 10").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .unionByName(s.range(1).select(lit(-1L).as("bucket"),
        lit(dropped).as("n"), lit(acceptedN).as("sum_id"),
        lit(dropped + acceptedN).as("sum_cents")))
      .orderBy(col("bucket"))
  }

  val st18Oracle: String =
    """WITH n1 AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE user_id < 30),
      |n2 AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE user_id >= 30 AND user_id < 60),
      |-- Spark tracks event-time stats in MILLISECONDS, so night-1's
      |-- persisted watermark is floor(max/1ms) - 48h; a night-2 row at
      |-- or before it is dropped (LateDataSpec pins the <= boundary)
      |wm AS (SELECT (MAX(tsu) // 1000) * 1000 - 172800000000 AS w FROM n1),
      |acc AS (SELECT * FROM n1 UNION ALL
      |  SELECT * FROM n2 WHERE tsu > (SELECT w FROM wm))
      |SELECT user_id // 10 AS bucket, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents FROM acc GROUP BY 1
      |UNION ALL
      |SELECT -1, (SELECT COUNT(*) FROM n2 WHERE tsu <= (SELECT w FROM wm)),
      |  (SELECT COUNT(*) FROM acc),
      |  (SELECT COUNT(*) FROM n1) + (SELECT COUNT(*) FROM n2)
      |ORDER BY bucket""".stripMargin

  /** Late-data DEAD-LETTER channel — [[st18LateCensus]] measures what
    * the watermark drops; this operator KEEPS it. The engine's stateful
    * operators silently discard late rows (st18's counter is the only
    * trace), but a production ingest usually wants them quarantined for
    * backfill/reconciliation instead. So the ingest runs as
    * `foreachBatch` with EXPLICIT watermark bookkeeping in a manifest
    * stats table: each batch reads the previous batches' committed
    * max event time (ms-truncated, minus the 48 h delay — the same
    * arithmetic Spark's watermark tracks and st18's oracle replays),
    * routes `ets <= wm` rows to the LATE table and the rest to the MAIN
    * table, then commits its own max as the next watermark state. Every
    * row lands in exactly one table — conservation is the gate, not a
    * counter. Two source files with forced mtimes make the batch order
    * (on-time slice, then the out-of-order slice) deterministic; all
    * three tables are appending manifest commits with the st8
    * replay-guard, so the channel inherits exactly-once.
    */
  def st19LateQuarantine(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.Manifest
    val root = tmpDir(s) + s"/graft_st19_${st2Seq.incrementAndGet()}"
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(rootP, true)
    val (mainRoot, lateRoot, wmRoot) =
      (s"$root/main", s"$root/late", s"$root/wm")
    val delayUs = 172800000000L // 48 hours, st18's delay
    def slice(lo: Long, hi: Long) = Tables.events(s, dir)
      .filter(col("user_id") >= lo && col("user_id") < hi)
      .select(col("event_id"), col("user_id"),
        timestamp_micros(expr("ts DIV 1000")).as("ets"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    // night 1 (on time) then night 2 (out of order), forced mtime order
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/src"))
    for ((range, k) <- Seq((0L, 30L), (30L, 60L)).zipWithIndex) {
      slice(range._1, range._2).coalesce(1).write
        .parquet(s"$root/stage_$k")
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$root/stage_$k"))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val dst = new org.apache.hadoop.fs.Path(s"$root/src/b$k.parquet")
      require(fs.rename(part, dst), s"rename of slice file $k failed")
      fs.setTimes(dst, 1600000000000L + k * 60000L, -1)
    }
    val schema = s.read.parquet(s"$root/src").schema
    val ingest = (batch: DataFrame, batchId: Long) => {
      if (!batch.isEmpty) {
        val ss = batch.sparkSession
        // the late boundary is the PRE-batch watermark: previous
        // batches' committed max, ms-truncated, minus the delay —
        // exactly when the engine's own late filter would apply
        val wm = Manifest.versions(ss, wmRoot).lastOption.map { _ =>
          val mx = Manifest.snapshot(ss, wmRoot)
            .agg(max(col("max_us"))).collect()(0).getLong(0)
          (mx / 1000) * 1000 - delayUs
        }
        val withUs = batch.withColumn("us", unix_micros(col("ets")))
        val mainDir = s"$root/m_$batchId"
        if (!Manifest.committed(ss, mainRoot).contains(mainDir)) {
          wm.map(w => withUs.filter(col("us") > w)).getOrElse(withUs)
            .write.mode("overwrite").parquet(mainDir)
          Manifest.commitIfAbsent(ss, mainRoot, mainDir)
        }
        val lateDir = s"$root/l_$batchId"
        if (!Manifest.committed(ss, lateRoot).contains(lateDir)) {
          wm.map(w => withUs.filter(col("us") <= w))
            .getOrElse(withUs.filter(lit(false)))
            .write.mode("overwrite").parquet(lateDir)
          Manifest.commitIfAbsent(ss, lateRoot, lateDir)
        }
        val wmDir = s"$root/w_$batchId"
        if (!Manifest.committed(ss, wmRoot).contains(wmDir)) {
          withUs.agg(max(col("us")).as("max_us"))
            .write.mode("overwrite").parquet(wmDir)
          Manifest.commitIfAbsent(ss, wmRoot, wmDir)
        }
      }
      ()
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    def census(tbl: String, r: String) = Manifest.snapshot(s, r)
      .groupBy(expr("user_id DIV 10").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("tbl", lit(tbl))
    census("main", mainRoot).unionByName(census("late", lateRoot))
      .select(col("tbl"), col("bucket"), col("n"), col("sum_id"),
        col("sum_cents"))
      .orderBy(col("tbl"), col("bucket"))
  }

  val st19Oracle: String =
    """WITH n1 AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE user_id < 30),
      |n2 AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE user_id >= 30 AND user_id < 60),
      |wm AS (SELECT (MAX(tsu) // 1000) * 1000 - 172800000000 AS w FROM n1),
      |routed AS (SELECT 'main' AS tbl, * FROM n1
      |  UNION ALL SELECT CASE WHEN tsu <= (SELECT w FROM wm)
      |    THEN 'late' ELSE 'main' END, * FROM n2)
      |SELECT tbl, user_id // 10 AS bucket, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM routed GROUP BY 1, 2 ORDER BY tbl, bucket""".stripMargin

  /** SCD2 / AS-OF dimension enrichment — st5's stream-static join
    * upgraded to the slowly-changing-dimension shape production
    * pipelines actually carry: the dimension is VERSIONED (each key
    * holds rows with `[valid_from, valid_to)` event-time intervals —
    * here 3 epochs splitting the stream's time range, tier changing
    * per epoch), and each fact row must join the version that was
    * current AT ITS EVENT TIME, not the latest one — the difference
    * between "what tier is this user" and "what tier WAS this user
    * when the event happened", which is what makes backfills replayable
    * and late data correct. Plan shape: broadcast hash join on the key
    * with the interval predicate evaluated post-match — stateless per
    * microbatch, zero streaming state, stream never shuffles; at 100 TB
    * the dimension is the small side by construction (keys × versions)
    * and a late-arriving fact still lands in its historical epoch. The
    * oracle replays the epoch construction and the interval join.
    */
  def st20Scd2Enrich(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    // bounded collect: ONE row (global time range) to pin the epochs
    val b = Tables.events(s, dir)
      .agg(min(col("ts")).as("tmin"), max(col("ts")).as("tmax"))
      .collect()(0)
    val tmin = b.getLong(0)
    val span = (b.getLong(1) - tmin + 3) / 3
    val dim = Tables.customer(s, dir).filter(col("c_custkey") < 100)
      .select(col("c_custkey"),
        explode(array(lit(0), lit(1), lit(2))).as("v"))
      .select(col("c_custkey"), col("v"),
        (lit(tmin) + lit(span) * col("v")).as("vf"),
        when(col("v") === 2, lit(Long.MaxValue))
          .otherwise(lit(tmin) + lit(span) * (col("v") + 1)).as("vt"),
        ((col("c_custkey") * 7 + col("v")) % 5).as("tier"))
    val src = Tables.eventsStream(s, dir).filter(col("user_id") < 100)
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val enriched = src.join(broadcast(dim),
      col("user_id") === col("c_custkey") &&
        col("ts") >= col("vf") && col("ts") < col("vt"))
    val name = s"graft_st20_${st2Seq.incrementAndGet()}"
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      enriched.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name)
      .groupBy(col("v"), col("tier"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("v"), col("tier"))
  }

  val st20Oracle: String =
    """WITH b AS (SELECT MIN(epoch_ns(ts)) AS tmin,
      |    (MAX(epoch_ns(ts)) - MIN(epoch_ns(ts)) + 3) // 3 AS span
      |  FROM events),
      |dim AS (SELECT c_custkey, v, tmin + span * v AS vf,
      |    CASE WHEN v = 2 THEN 9223372036854775807
      |      ELSE tmin + span * (v + 1) END AS vt,
      |    (c_custkey * 7 + v) % 5 AS tier
      |  FROM customer, range(0, 3) rv(v), b
      |  WHERE c_custkey < 100)
      |SELECT v, tier, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM events JOIN dim ON user_id = c_custkey
      |  AND epoch_ns(ts) >= vf AND epoch_ns(ts) < vt
      |WHERE user_id < 100
      |GROUP BY 1, 2 ORDER BY v, tier""".stripMargin

  /** STREAM-MAINTAINED heavy-hitters — t36's Misra–Gries sketch kept up
    * to date by a stream, the "trending keys" shape (top domains in the
    * crawl bus, top error classes in the event firehose): each
    * microbatch aggregates its OWN bounded summary
    * (`graft_topk_mg`) and appends one sketch ROW to a state table —
    * per-batch cost ∝ batch, state cost ∝ batches × k, never a raw-key
    * table — and the corpus answer is one `graft_topk_merge` over the
    * stored summaries, sound because MG summaries are mergeable (the
    * Agarwal et al. rule [[graft.expressions.MisraGriesMergeSketches]])
    * with the same N/(k+1) bounds. The gate runs in the provably-exact
    * regime (bounded key space ≤ k), so the streamed-and-merged answer
    * must EQUAL the batch group-count the oracle replays; a require
    * pins that multiple real microbatches contributed summaries.
    */
  def st21StreamTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    graft.expressions.LongArrayOps.register(s)
    val root = tmpDir(s) + s"/graft_st21_${st2Seq.incrementAndGet()}"
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val srcDir = s"$root/src"
    Tables.events(s, dir).filter(col("user_id") < 100)
      .select(col("event_id"),
        concat(col("event_type"), lit(":"),
          (col("user_id") % 10).cast("string")).as("key"))
      .repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = s.read.parquet(srcDir).schema
    val sketchDir = s"$root/sketches"
    val ingest = (batch: DataFrame, batchId: Long) => {
      if (!batch.isEmpty)
        batch.agg(expr("graft_topk_mg(key, 64)").as("sk"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(sketchDir)
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    val st = s.read.parquet(sketchDir)
    require(st.count() >= 2,
      "expected multiple per-microbatch sketches in the state table")
    st.agg(expr("graft_topk_merge(sk, 64)").as("sk"))
      .select(posexplode(col("sk")).as(Seq("rank", "e")))
      .select(col("rank"), col("e.key").as("key"), col("e.est").as("est"))
      .orderBy(col("rank"))
  }

  val st21Oracle: String =
    """SELECT ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, key) - 1 AS rank,
      |  key, COUNT(*) AS est
      |FROM (SELECT event_type || ':' || CAST(user_id % 10 AS VARCHAR)
      |    AS key
      |  FROM events WHERE user_id < 100)
      |GROUP BY key ORDER BY rank""".stripMargin

  /** KEY-TABLE dedup ingest — idempotent-by-key ingestion with NO
    * time horizon: st4's `dropDuplicatesWithinWatermark` drops a
    * redelivery only while the key is inside the watermark window,
    * but production redeliveries (replayed partitions, backfills,
    * at-least-once upstreams) arrive HOURS later. The answer is a key
    * TABLE, not stream state: each microbatch anti-joins the
    * accumulated key set on disk, appends only first-seen rows, and
    * appends its new keys — state is a table bounded by key
    * cardinality, survives restarts with the checkpoint, and at 100 TB
    * the anti-join prunes with the same machinery every table join
    * uses (d12's bloom prefilter, io18 skip-stats, Z-order on the
    * key). The gate plants duplicates in LATER microbatches than the
    * originals — mtime-ordered files, the FileStreamSource contract —
    * so in-batch dedup alone cannot pass; the census over the ingested
    * table must equal the distinct-events census.
    */
  def st22KeytableDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpDir(s) + s"/graft_st22_${st2Seq.incrementAndGet()}"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val srcDir = s"$root/src"
    val base = Tables.events(s, dir).filter(col("user_id") < 60)
      .select(col("event_id"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    // originals first, duplicates in strictly later files: force the
    // file order with mtimes (FileStreamSource schedules oldest-first)
    base.repartition(2).write.parquet(s"$srcDir/a")
    base.filter(col("event_id") % 4 === 0).repartition(1)
      .write.parquet(s"$srcDir/b")
    val now = System.currentTimeMillis()
    def files(sub: String) = fsH.listStatus(
      new org.apache.hadoop.fs.Path(s"$srcDir/$sub"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
    val flat = s"$root/flat"
    fsH.mkdirs(new org.apache.hadoop.fs.Path(flat))
    (files("a") ++ files("b")).foreach { p =>
      org.apache.hadoop.fs.FileUtil.copy(fsH, p, fsH,
        new org.apache.hadoop.fs.Path(flat,
          s"${p.getParent.getName}_${p.getName}"), false,
        s.sparkContext.hadoopConfiguration)
    }
    fsH.listStatus(new org.apache.hadoop.fs.Path(flat)).map(_.getPath)
      .foreach { p =>
        val early = p.getName.startsWith("a_")
        fsH.setTimes(p, if (early) now - 60000 else now, -1)
      }
    val schema = s.read.parquet(flat).schema
    val dataDir = s"$root/data"
    val keysDir = s"$root/keys"
    val ingest = (batch: DataFrame, batchId: Long) => {
      if (!batch.isEmpty) {
        val ss = batch.sparkSession
        val seen =
          if (fsH.exists(new org.apache.hadoop.fs.Path(keysDir)))
            ss.read.parquet(keysDir)
          else batch.select(col("event_id")).limit(0)
        val fresh = batch
          .join(seen.withColumnRenamed("event_id", "seen_id"),
            col("event_id") === col("seen_id"), "left_anti")
          .dropDuplicates("event_id") // in-batch copies of a first-seen key
          .localCheckpoint()
        if (fresh.count() > 0) {
          fresh.write.mode("append").parquet(dataDir)
          fresh.select(col("event_id")).write.mode("append")
            .parquet(keysDir)
        }
      }: Unit
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(flat)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.read.parquet(dataDir)
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("bucket"))
  }

  val st22Oracle: String =
    """SELECT user_id % 10 AS bucket, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM events WHERE user_id < 60
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** DIMENSION REFRESH between microbatches — the property st5's
    * scaladoc claims ("Spark re-plans the static side per microbatch,
    * which is what picks up dimension updates between batches") made
    * testable and deterministic: the enrichment runs in `foreachBatch`
    * and resolves the dimension through the MANIFEST on every batch
    * (the production shape — a batch job pins the dim's current
    * snapshot, never a stale captured plan), and the batch-2 callback
    * itself commits the dimension's v2 before enriching, so batches
    * 0–1 deterministically join tier-v1 and batches 2–3 join tier-v2.
    * File order is mtime-forced (the FileStreamSource contract), each
    * file a known user_id slice, so DuckDB replays exactly which rows
    * saw which dimension version. Scale: per batch one broadcast
    * snapshot read + a stateless hash join — zero streaming state, and
    * the dim update is one manifest commit away from every consumer.
    */
  def st23DimRefresh(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.Manifest
    val root = tmpDir(s) + s"/graft_st23_${st2Seq.incrementAndGet()}"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val dimTbl = s"$root/dim_tbl"
    def commitDim(gen: Int): Unit = {
      val d = s"$root/dim_v$gen"
      Tables.customer(s, dir).filter(col("c_custkey") < 60)
        .select(col("c_custkey"),
          (col("c_custkey") % 3 + lit(gen * 10)).as("tier"))
        .write.parquet(d)
      Manifest.rewrite(s, dimTbl, Seq(d))
    }
    commitDim(0)
    // four mtime-ordered source files, each a known user_id slice —
    // written in ONE partitioned pass over events (this was four
    // filtered scans, each written to its own dir and then copied),
    // then moved into the flat source dir with the forced mtime order
    val srcDir = s"$root/src"
    val now = System.currentTimeMillis()
    val srcProj = Tables.events(s, dir)
      .filter(col("user_id") >= 0 && col("user_id") < 60)
      .select(col("event_id"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    srcProj
      .withColumn("_gb", (col("user_id") / 15).cast("int"))
      .repartition(col("_gb"))
      .write.partitionBy("_gb").parquet(srcDir)
    val flat = s"$root/flat"
    fsH.mkdirs(new org.apache.hadoop.fs.Path(flat))
    (0 until 4).foreach { i =>
      val gdir = s"$srcDir/_gb=$i"
      // a slice empty at this SF gets no partition directory from the
      // one-pass write — materialize the schema-only file the old
      // per-slice writes produced, so the stream still sees 4 batches
      if (!fsH.exists(new org.apache.hadoop.fs.Path(gdir)))
        srcProj.limit(0).coalesce(1).write.parquet(gdir)
      fsH.listStatus(new org.apache.hadoop.fs.Path(gdir))
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .foreach { p =>
          val dst = new org.apache.hadoop.fs.Path(flat, s"f${i}_${p.getName}")
          require(fsH.rename(p, dst), s"source slice move $i failed")
          fsH.setTimes(dst, now - 40000 + i * 10000, -1)
        }
    }
    val schema = s.read.parquet(flat).schema
    val outDir = s"$root/out"
    val enrich = (batch: DataFrame, batchId: Long) => {
      if (!batch.isEmpty) {
        if (batchId == 2L) commitDim(1) // the dimension moves mid-stream
        val dim = Manifest.snapshot(batch.sparkSession, dimTbl)
        batch.join(broadcast(dim),
            col("user_id") === col("c_custkey"))
          .select(col("event_id"), col("user_id"), col("cents"),
            col("tier"))
          .write.mode("append").parquet(outDir)
      }: Unit
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(flat)
        .writeStream.foreachBatch(enrich)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.read.parquet(outDir)
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("tier"))
  }

  val st23Oracle: String =
    """SELECT CASE WHEN user_id < 30 THEN c_custkey % 3
      |    ELSE c_custkey % 3 + 10 END AS tier,
      |  COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE user_id < 60
      |GROUP BY 1 ORDER BY tier""".stripMargin

  /** The manifest table as a STREAMING SOURCE
    * ([[graft.io.dsv2.GraftMicroBatchStream]]) under a REAL streaming
    * gate — the lakehouse-to-stream bridge Delta calls a streaming
    * source: offsets are the table's own manifest versions, so a
    * producer committing through the protocol feeds consumers
    * incrementally with exactly-once accounting. The gate commits 3
    * increments, streams them (`readStream.format("graft")`,
    * AvailableNow) into a parquet sink, commits 2 MORE versions, and
    * resumes on the SAME checkpoint — only the delta arrives (the
    * census's exactly-once totals prove no re-read); a replacing
    * commit then must refuse loudly (re-reading rewritten data would
    * double-count). Oracle: the five slices' rows exactly once.
    */
  def st24ManifestStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.Manifest
    val root = tmpDir(s) + s"/graft_st24_${st2Seq.incrementAndGet()}"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val tbl = s"$root/tbl"
    def commit(k: Int): Unit = {
      val d = s"$tbl/data/inc_$k"
      Tables.events(s, dir)
        .filter(col("event_id") >= k * 200 && col("event_id") < (k + 1) * 200)
        .select(col("event_id"), col("user_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
        .write.parquet(d)
      Manifest.commit(s, tbl, d)
    }
    (0 until 3).foreach(commit)
    val outDir = s"$root/out"
    def runOnce(): Unit =
      s.readStream.format("graft").option("startingVersion", "1")
        .load(tbl)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    runOnce()
    (3 until 5).foreach(commit)
    runOnce() // same checkpoint: versions 4..5 only
    // a replacing commit (compaction) must refuse the stream loudly
    graft.io.IndexCompaction.compact(s, tbl, s"$tbl/data/compacted")
    val refused = try { runOnce(); false }
      catch { case e: Throwable =>
        def hit(t: Throwable): Boolean = t != null &&
          (Option(t.getMessage).exists(_.contains("REMOVED")) ||
            hit(t.getCause))
        hit(e) }
    require(refused,
      "a replacing commit must stop the stream, not double-count")
    s.read.parquet(outDir)
      .groupBy((col("event_id") % 7).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("user_id")).as("sum_uid"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("bucket"))
  }

  val st24Oracle: String =
    """SELECT event_id % 7 AS bucket, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(user_id) AS BIGINT) AS sum_uid,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM events WHERE event_id < 1000
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** The manifest table as a STREAMING SINK
    * ([[graft.io.dsv2.GraftStreamSink]]): every microbatch is ONE
    * manifest commit whose directory is named by the batch id, so
    * exactly-once is the protocol's own `commitIfAbsent` idempotency —
    * no sink-side dedup log. The gate streams 4 event slices
    * (maxFilesPerTrigger=1 → one commit each), REPLAYS the finished
    * query on the same checkpoint (in-gate require: version ledger
    * unchanged — replay commits nothing), then answers the census off
    * the table AND off a `versionAsOf` read of the second commit,
    * proving microbatch commits time-travel like any other. Composes
    * with st24: the sink's output table is a valid streaming source.
    */
  def st25ManifestSink(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.Manifest
    val root = tmpDir(s) + s"/graft_st25_${st2Seq.incrementAndGet()}"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val flat = s"$root/src"
    fsH.mkdirs(new org.apache.hadoop.fs.Path(flat))
    val now = System.currentTimeMillis()
    (0 until 4).foreach { i =>
      val staging = s"$root/stage_$i"
      Tables.events(s, dir)
        .filter(col("event_id") >= i * 150 && col("event_id") < (i + 1) * 150)
        .select(col("event_id"), col("user_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
        .repartition(1).write.parquet(staging)
      fsH.listStatus(new org.apache.hadoop.fs.Path(staging))
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .foreach { p =>
          val dst = new org.apache.hadoop.fs.Path(flat, s"f${i}_${p.getName}")
          org.apache.hadoop.fs.FileUtil.copy(fsH, p, fsH, dst, false,
            s.sparkContext.hadoopConfiguration)
          fsH.setTimes(dst, now - 40000 + i * 10000, -1)
        }
    }
    val tbl = s"$root/tbl"
    val schema = s.read.parquet(flat).schema
    def run(): Unit =
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(flat)
        .writeStream.format("graft")
        .option("path", tbl).option("statsCols", "event_id")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    run()
    val versions = Manifest.versions(s, tbl)
    require(versions.size == 4,
      s"4 microbatches must land as 4 commits, got $versions")
    run() // replay on the finished checkpoint
    require(Manifest.versions(s, tbl) == versions,
      "a replayed query must commit nothing (exactly-once)")
    def census(df: DataFrame, tag: Int) = df
      .groupBy((col("event_id") % 5).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("phase", lit(tag))
    census(s.read.format("graft").load(tbl), 0)
      .unionByName(census(s.read.format("graft")
        .option("versionAsOf", versions(1).toString).load(tbl), 1))
      .select(col("phase"), col("bucket"), col("n"), col("sum_id"),
        col("sum_cents"))
      .orderBy(col("phase"), col("bucket"))
  }

  val st25Oracle: String =
    """WITH li AS (SELECT event_id, user_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |snap AS (
      |  SELECT 0 AS phase, * FROM li WHERE event_id < 600
      |  UNION ALL
      |  SELECT 1, * FROM li WHERE event_id < 300)
      |SELECT phase, event_id % 5 AS bucket, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, bucket""".stripMargin

  /** TABLE-TO-TABLE streaming ETL with STATEFUL dedup — the production
    * ingest pipeline both bridge halves exist for, in one query:
    * `readStream.format("graft")` (version offsets, st24) →
    * `dropDuplicates(key)` (state in the checkpoint's state store) →
    * `writeStream.format("graft")` (batch-id commits, st25). The
    * planted commits OVERLAP key ranges — within a run AND across a
    * stopped-and-resumed run — so the gate proves the dedup state
    * carries across microbatches sourced from manifest versions and
    * across query restarts: the sink table holds every key exactly
    * once no matter which commit(s) carried it. That is "exactly-once
    * ingest with upstream redelivery" built from nothing but the
    * commit protocol and stock streaming state.
    */
  def st26TableDedupEtl(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.Manifest
    val root = tmpDir(s) + s"/graft_st26_${st2Seq.incrementAndGet()}"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val src = s"$root/src"
    // staged once: the redelivered slices below OVERLAP (the gate's
    // semantics — not one-pass-partitionable), but they can all filter
    // one materialized projection instead of re-scanning events
    val evs = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("cents")).staged()
    def commit(lo: Long, hi: Long, tag: String): Unit = {
      val d = s"$src/data/$tag"
      evs.filter(col("event_id") >= lo && col("event_id") < hi)
        .write.parquet(d)
      Manifest.commit(s, src, d)
    }
    // run-1 commits: [0,200) ∪ [100,300) ∪ [250,400) — 150 redelivered
    commit(0, 200, "c0"); commit(100, 300, "c1"); commit(250, 400, "c2")
    val sink = s"$root/sink"
    def run(): Unit =
      s.readStream.format("graft").option("startingVersion", "1")
        .load(src)
        .dropDuplicates("event_id")
        .writeStream.format("graft")
        .option("path", sink)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    run()
    // run-2 commits overlap run-1's ALREADY-SHIPPED range: only the
    // checkpointed dedup state can know [350,400) was delivered
    commit(350, 500, "c3")
    run()
    val n = s.read.format("graft").load(sink).count()
    require(n == 500,
      s"sink must hold each key exactly once across commits AND runs " +
        s"(got $n rows, want 500)")
    s.read.format("graft").load(sink)
      .groupBy((col("event_id") % 7).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("user_id")).as("sum_uid"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("bucket"))
  }

  val st26Oracle: String =
    """SELECT event_id % 7 AS bucket, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(user_id) AS BIGINT) AS sum_uid,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM events WHERE event_id < 500
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** `ignoreChanges` RESUME across a mid-stream compaction
    * ([[graft.io.dsv2.GraftMicroBatchStream]]'s opt-in path, Delta
    * parity): three appends stream normally, a compaction then REPLACES
    * them (st24 pins the refusal — re-required here), and the restart
    * with `ignoreChanges=true` consumes the versions past the
    * checkpoint as added-directories-only. The replacing commit's
    * folded output IS an added directory, so the already-streamed rows
    * are DELIVERED AGAIN — the documented contract (downstream must
    * tolerate duplicates) — and the post-compaction append arrives
    * exactly once. The census runs over the raw DELIVERY stream
    * (duplicates included), so the oracle pins the re-delivery
    * multiplicity itself: pre-compaction events count twice, the
    * post-compaction slice once.
    */
  def st27StreamIgnoreChanges(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.Manifest
    val root = tmpDir(s) + s"/graft_st27_${st2Seq.incrementAndGet()}"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val tbl = s"$root/tbl"
    def commit(k: Int): Unit = {
      val d = s"$tbl/data/inc_$k"
      Tables.events(s, dir)
        .filter(col("event_id") >= k * 200 && col("event_id") < (k + 1) * 200)
        .select(col("event_id"), col("user_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
        .write.parquet(d)
      Manifest.commit(s, tbl, d)
    }
    (0 until 3).foreach(commit) // event_id [0, 600)
    val outDir = s"$root/out"
    def runOnce(ignoreChanges: Boolean): Unit = {
      val rs = s.readStream.format("graft").option("startingVersion", "1")
      (if (ignoreChanges) rs.option("ignoreChanges", "true") else rs)
        .load(tbl)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    runOnce(ignoreChanges = false) // consumes the three appends
    // compaction REPLACES the three dirs, then a fresh append lands
    graft.io.IndexCompaction.compact(s, tbl, s"$tbl/data/compacted")
    commit(3) // event_id [600, 800)
    val refused = try { runOnce(ignoreChanges = false); false }
      catch { case e: Throwable =>
        def hit(t: Throwable): Boolean = t != null &&
          (Option(t.getMessage).exists(_.contains("REMOVED")) ||
            hit(t.getCause))
        hit(e) }
    require(refused,
      "the resume without ignoreChanges must refuse the replacing commit")
    runOnce(ignoreChanges = true)
    val delivered = s.read.parquet(outDir)
    val n = delivered.count()
    val firstRun = Tables.events(s, dir)
      .filter(col("event_id") < 600).count()
    val append = Tables.events(s, dir)
      .filter(col("event_id") >= 600 && col("event_id") < 800).count()
    require(n == 2 * firstRun + append,
      s"ignoreChanges must re-deliver the folded output once and the " +
        s"append once (got $n, want ${2 * firstRun + append})")
    delivered
      .groupBy((col("event_id") % 7).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("user_id")).as("sum_uid"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("bucket"))
  }

  val st27Oracle: String =
    """WITH ev AS (SELECT event_id, user_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_id < 800),
      |deliv AS (
      |  SELECT * FROM ev
      |  UNION ALL SELECT * FROM ev WHERE event_id < 600)
      |SELECT event_id % 7 AS bucket, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(user_id) AS BIGINT) AS sum_uid,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM deliv GROUP BY 1 ORDER BY bucket""".stripMargin

  /** st26's table-to-table dedup ETL under the ROCKSDB state store —
    * the configuration gate the unbounded-key dedup paths need at
    * 100 TB: `dropDuplicates` keyed state has NO time horizon (the
    * correct semantic — a key seen once is deduped forever), so state
    * grows with distinct keys and must live in RocksDB, not the
    * HDFS-backed in-memory map. Same commits, same two-run restart,
    * same oracle text as st26 VERBATIM — run 2's dedup of the
    * re-delivered range only works if run 1's keyed state SURVIVED the
    * restart through the RocksDB checkpoint. In-gate requires pin that
    * the state files on disk are RocksDB artifacts (version zips /
    * changelogs, no HDFS-backed `.delta`).
    */
  def st28DedupRocksdb(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.Manifest
    val root = tmpDir(s) + s"/graft_st28_${st2Seq.incrementAndGet()}"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val src = s"$root/src"
    // staged once: the redelivered slices below OVERLAP (the gate's
    // semantics — not one-pass-partitionable), but they can all filter
    // one materialized projection instead of re-scanning events
    val evs = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("cents")).staged()
    def commit(lo: Long, hi: Long, tag: String): Unit = {
      val d = s"$src/data/$tag"
      evs.filter(col("event_id") >= lo && col("event_id") < hi)
        .write.parquet(d)
      Manifest.commit(s, src, d)
    }
    commit(0, 200, "c0"); commit(100, 300, "c1"); commit(250, 400, "c2")
    val sink = s"$root/sink"
    val providerConf = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerConf)
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set(providerConf, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    def run(): Unit =
      s.readStream.format("graft").option("startingVersion", "1")
        .load(src)
        .dropDuplicates("event_id")
        .writeStream.format("graft")
        .option("path", sink)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    try {
      run()
      commit(350, 500, "c3") // overlaps the already-shipped range
      run() // dedup state must survive the restart through RocksDB
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevProvider match {
        case Some(v) => s.conf.set(providerConf, v)
        case None => s.conf.unset(providerConf)
      }
    }
    // the state on disk must be ROCKSDB's (version zips/changelogs),
    // not the HDFS-backed map's .delta files
    def ls(p: org.apache.hadoop.fs.Path): Seq[String] =
      if (!fsH.exists(p)) Seq.empty
      else fsH.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) ls(st.getPath) else Seq(st.getPath.getName)
      }
    val stateFiles = ls(new org.apache.hadoop.fs.Path(s"$root/ckpt/state"))
    require(stateFiles.exists(f =>
        f.endsWith(".zip") || f.endsWith(".changelog")),
      s"expected RocksDB state artifacts under the checkpoint, got " +
        s"${stateFiles.take(10)}")
    require(!stateFiles.exists(_.endsWith(".delta")),
      "HDFS-backed .delta state found — the RocksDB provider was not used")
    val n = s.read.format("graft").load(sink).count()
    require(n == 500,
      s"sink must hold each key exactly once across commits AND runs " +
        s"(got $n rows, want 500)")
    s.read.format("graft").load(sink)
      .groupBy((col("event_id") % 7).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("user_id")).as("sum_uid"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("bucket"))
  }

  val st28Oracle: String = st26Oracle

  /** Streaming a MERGE-ON-READ table through a mid-stream UPDATE
    * (st29) — the Delta `readStream` + `UPDATE` interplay, oracle-
    * gated: three appends stream normally; a MoR UPDATE then lands as
    * ONE appending commit (epoch tombstone + morins re-insert pair,
    * io63's write shape); the resume WITHOUT `ignoreChanges` must
    * refuse loudly (the morins rows are rewritten copies of
    * already-streamed keys — silently re-delivering them violates the
    * append-only contract exactly like a replacing commit); the resume
    * WITH it consumes the morins rows as fresh appends. Downstream
    * dedups on the key taking the LATEST value (the update's bump is
    * positive, so max(cents) selects it deterministically), and the
    * dedup'd census must equal the BATCH merge-on-read snapshot of the
    * table — pinned in-gate against [[MergeOnRead.snapshot]] and by
    * the DuckDB oracle replaying the update.
    */
  def st29StreamMor(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.{Manifest, MergeOnRead}
    val root = tmpDir(s) + s"/graft_st29_${st2Seq.incrementAndGet()}"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val tbl = s"$root/tbl"
    def slice(lo: Long, hi: Long) = Tables.events(s, dir)
      .filter(col("event_id") >= lo && col("event_id") < hi)
      .select(col("event_id"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    def commit(k: Int): Unit = {
      val d = s"$tbl/data/inc_$k"
      slice(k * 200, (k + 1) * 200).write.parquet(d)
      Manifest.commit(s, tbl, d)
    }
    (0 until 3).foreach(commit) // event_id [0, 600), versions 1..3
    // the recorded merge key lets batch readers auto-merge the
    // tombstoned versions; the STREAM's refusal below is the source's
    // own (morins re-delivery), not the unreadable-table resolve
    graft.io.dsv2.GraftMorKey.set(s, tbl, "event_id")
    val outDir = s"$root/out"
    def runOnce(ignoreChanges: Boolean): Unit = {
      val rs = s.readStream.format("graft").option("startingVersion", "1")
      (if (ignoreChanges) rs.option("ignoreChanges", "true") else rs)
        .load(tbl)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    runOnce(ignoreChanges = false) // the three appends stream clean
    // the MoR UPDATE lands mid-stream: ONE appending version
    val updated = slice(0, 200).withColumn("cents",
      col("cents") + 1000000L)
    MergeOnRead.updateRows(s, tbl, "event_id",
      updated.select(col("event_id")), updated, s"$tbl/data")
    require(Manifest.versions(s, tbl) == Seq(1, 2, 3, 4),
      "the MoR update must commit as ONE appending version")
    // resume without ignoreChanges: fail loudly, never re-deliver
    val refused = try { runOnce(ignoreChanges = false); false }
      catch { case e: Throwable =>
        def hit(t: Throwable): Boolean = t != null &&
          (Option(t.getMessage)
            .exists(_.contains("merge-on-read UPDATE")) || hit(t.getCause))
        hit(e) }
    require(refused,
      "the resume without ignoreChanges must refuse the MoR update " +
        "commit loudly")
    runOnce(ignoreChanges = true) // morins rows arrive as appends
    val delivered = s.read.parquet(outDir)
    val base = slice(0, 600).count()
    val updCount = slice(0, 200).count()
    require(delivered.count() == base + updCount,
      "the morins directory must deliver exactly once, tombstones never")
    // dedup on the key, latest value wins (the bump is positive)
    val dedup = delivered.groupBy(col("event_id"))
      .agg(max(col("user_id")).as("user_id"),
        max(col("cents")).as("cents"))
    val census = dedup
      .groupBy((col("event_id") % 7).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("user_id")).as("sum_uid"),
        sum(col("cents")).as("sum_cents"))
    // the dedup'd stream census must equal the BATCH MoR snapshot's
    val snapCensus = MergeOnRead.snapshot(s, tbl, "event_id")
      .groupBy((col("event_id") % 7).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("user_id")).as("sum_uid"),
        sum(col("cents")).as("sum_cents"))
    require(census.except(snapCensus).isEmpty &&
        snapCensus.except(census).isEmpty,
      "the dedup'd delivery census must match the batch MoR snapshot")
    census.orderBy(col("bucket"))
  }

  val st29Oracle: String =
    """WITH ev AS (SELECT event_id, user_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_id < 600),
      |upd AS (SELECT event_id, user_id,
      |    CASE WHEN event_id < 200 THEN cents + 1000000 ELSE cents END
      |      AS cents
      |  FROM ev)
      |SELECT event_id % 7 AS bucket, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(user_id) AS BIGINT) AS sum_uid,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM upd GROUP BY 1 ORDER BY bucket""".stripMargin

  /** STREAMING change data feed under the oracle gate (st30 — Delta's
    * `readChangeFeed` on `readStream`): the change rows of each commit
    * stream with IO ∝ the change — appended directories as `insert`,
    * a merge-on-read update's morins directory as `update_postimage`,
    * its tombstone keys as keyed `delete` rows (key set, remaining
    * columns null — the shape a downstream replica applies as
    * delete-then-upsert), each stamped with its commit version. A
    * FOLD lands mid-stream and is SKIPPED via its `#op:` marker
    * (where the PLAIN stream must refuse or re-deliver — st29's
    * contract), pinned in-gate by the absence of its version from the
    * delivered rows. The oracle replays the ledger from events.
    */
  def st30StreamCdc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.{Cdc, Manifest, MergeOnRead}
    val root = tmpDir(s) + s"/graft_st30_${st2Seq.incrementAndGet()}"
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val tbl = s"$root/tbl"
    def slice(lo: Long, hi: Long) = Tables.events(s, dir)
      .filter(col("event_id") >= lo && col("event_id") < hi)
      .select(col("event_id"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    (0 until 3).foreach { i =>
      val d = s"$tbl/data/inc_$i"
      slice(i * 200, (i + 1) * 200).write.parquet(d)
      Manifest.commit(s, tbl, d)
    }
    graft.io.dsv2.GraftMorKey.set(s, tbl, "event_id")
    val updated = slice(0, 200).withColumn("cents",
      col("cents") + 1000000L)
    MergeOnRead.updateRows(s, tbl, "event_id",
      updated.select(col("event_id")), updated, s"$tbl/data")
    MergeOnRead.fold(s, tbl, "event_id", s"$tbl/data")
    require(Manifest.versions(s, tbl) == Seq(1, 2, 3, 4, 5) &&
      Manifest.opOf(s, tbl, 5).contains("fold"),
      "update appends as v4; the fold lands marked as v5")
    val outDir = s"$root/out"
    s.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .load(tbl)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val got = s.read.parquet(outDir)
    require(got.filter(col(Cdc.CommitVersion) === 5).isEmpty,
      "the marked fold must be SKIPPED by the change feed, not " +
        "refused and not re-delivered")
    require(got.filter(col(Cdc.ChangeType) === "delete" &&
        col("cents").isNotNull).isEmpty,
      "delete rows are keyed — non-key columns null by construction")
    got.groupBy(col(Cdc.CommitVersion).as("ver"),
        col(Cdc.ChangeType).as("tpe"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("ver"), col("tpe"))
  }

  val st30Oracle: String =
    """WITH ev AS (SELECT event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_id < 600),
      |ch AS (
      |  SELECT 1 AS ver, 'insert' AS tpe, event_id, cents FROM ev
      |    WHERE event_id < 200
      |  UNION ALL SELECT 2, 'insert', event_id, cents FROM ev
      |    WHERE event_id >= 200 AND event_id < 400
      |  UNION ALL SELECT 3, 'insert', event_id, cents FROM ev
      |    WHERE event_id >= 400
      |  UNION ALL SELECT 4, 'update_postimage', event_id,
      |      cents + 1000000 FROM ev WHERE event_id < 200
      |  UNION ALL SELECT 4, 'delete', event_id,
      |      CAST(NULL AS BIGINT) FROM ev WHERE event_id < 200)
      |SELECT ver, tpe, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM ch GROUP BY 1, 2 ORDER BY ver, tpe""".stripMargin

  /** The transformWithState sessionizer under the oracle gate — st1's
    * drop-in sibling on Spark 4's typed state API (explicit event-time
    * timers, RocksDB store), run as a REAL streaming query over a file
    * source. Sessions emit when their expiry timer fires, so the st1
    * sentinel trick (one synthetic event per key at max+gap+1) drives
    * the final watermark past every real session's expiry while the
    * sentinel's OWN session stays open in state and never emits — the
    * memory sink then holds exactly the batch session set, hash-matched
    * against the same gaps-and-islands oracle as st1. Proving the two
    * sessionizers against one oracle pins their interchangeability at
    * the gate, not just in specs.
    */
  def st10SessionizeTws(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val gapMs = 300000L
    val root = tmpDir(s) + s"/graft_st10_${st2Seq.incrementAndGet()}"
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val ev = Tables.events(s, dir)
      .filter(col("user_id") < 50)
      .select(col("user_id").as("key"),
        expr("ts DIV 1000000").as("tsMs"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .cast("double").as("value"))
    // sentinels sit at the GLOBAL max + gap + 2 (not each key's max):
    // the final watermark lands exactly on the sentinel timestamp, so
    // every real session's expiry (≤ globalMax+gap+1) is STRICTLY below
    // it and fires, while every sentinel's own expiry is above it and
    // its session stays in state, never emitted. Per-key sentinels would
    // fire for all but the globally-latest keys and leak n=1 phantoms.
    val gmax = ev.agg(max(col("tsMs")).as("gm"))
    val sentinels = ev.select(col("key")).distinct()
      .crossJoin(broadcast(gmax))
      .select(col("key"), (col("gm") + gapMs + 2).as("tsMs"),
        lit(0.0).as("value"))
    val srcDir = s"$root/src"
    ev.unionByName(sentinels).write.parquet(srcDir)
    val schema = s.read.parquet(srcDir).schema
    val stream = s.readStream.schema(schema).parquet(srcDir)
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", "0 seconds")
      .as[graft.streaming.Sessionize.Event]
    val name = s"graft_st10_${st2Seq.incrementAndGet()}"
    val providerConf = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerConf)
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set(providerConf, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      graft.streaming.SessionizeTws(stream, gapMs)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevProvider match {
        case Some(v) => s.conf.set(providerConf, v)
        case None => s.conf.unset(providerConf)
      }
    }
    s.table(name)
      .select(col("key").as("user_id"), col("startMs").as("start_ms"),
        col("endMs").as("end_ms"), col("nEvents").as("n"),
        col("total").cast("long").as("total_cents"))
      .orderBy(col("user_id"), col("start_ms"))
  }

  /** REAL image decode under the oracle gate — the javax.imageio path
    * ([[graft.multimodal.Multimodal.decodeImage]]) that MultimodalSpec
    * covers at spec level, now hash-checked: each synthetic 32×20 PNG
    * carries closed-form grayscale pixels g(id,x,y) = (id·31 + x·7 +
    * y·13) mod 256, so after the real PNG encode→decode round trip the
    * 4×4-block luminance features are exactly block-sums of g (gray luma
    * = g·1000 under the integer ITU-R 601 weights) with one double
    * division and one float rounding each — which DuckDB replays from
    * the formula, never touching a codec. Proves the decode pipeline
    * (bytes → dimensions/channels → block features) end to end, the way
    * m2/m3 prove the WAV codec.
    */
  def m4ImageDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Multimodal
    val mkPng = (id: Long) => {
      val img = new java.awt.image.BufferedImage(32, 20,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 20; x <- 0 until 32) {
        val g = ((id * 31 + x * 7 + y * 13) % 256).toInt
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val files = Tables.events(s, dir).filter(col("event_id") < 16)
      .select(col("event_id")).as[Long]
      .map(id => Multimodal.MediaFile(id.toString, "image/png",
        mkPng(id), 0L, Map.empty))
    Multimodal.decodeImage(files).toDF()
      .select(col("element").cast("long").as("img_id"), col("height"),
        col("width"), col("channels"),
        posexplode(col("features")).as(Seq("block", "feat")))
      .orderBy(col("img_id"), col("block"))
  }

  /** Per-image QUALITY census — the image sibling of t2 (text) and
    * a8 (audio), completing the curation triad: a multimodal corpus
    * drops images that are too small or visually degenerate (uniform
    * color = tracking pixels, placeholders, failed renders) before
    * they cost a training step. Planted 32×20 PNGs: every 4th image is
    * a UNIFORM fill, the rest carry m4's closed-form gradient; all go
    * through the REAL codec round trip and [[graft.multimodal
    * .Multimodal.decodeImage]]'s block-luminance features, and the
    * degeneracy signal is the DISTINCT-feature count over the 16
    * blocks (1 ⇒ uniform ⇒ drop). The oracle replays the block sums,
    * the one-division float features, and the distinct count from the
    * pixel formula. Scale: a per-row projection over binary columns —
    * bytes never shuffle.
    */
  def m7ImageQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Multimodal
    val mkPng = (id: Long) => {
      val img = new java.awt.image.BufferedImage(32, 20,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 20; x <- 0 until 32) {
        val g = (if (id % 4 == 0) (id * 9 + 7) % 256
                 else (id * 31 + x * 7 + y * 13) % 256).toInt
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val files = Tables.events(s, dir).filter(col("event_id") < 32)
      .select(col("event_id")).as[Long]
      .map(id => Multimodal.MediaFile(id.toString, "image/png",
        mkPng(id), 0L, Map.empty))
    Multimodal.decodeImage(files).toDF()
      .select(col("element").cast("long").as("img_id"), col("height"),
        col("width"),
        size(col("features")).cast("long").as("n_feat"),
        size(array_distinct(col("features"))).cast("long")
          .as("n_distinct"),
        array_min(col("features")).as("min_feat"),
        array_max(col("features")).as("max_feat"))
      .withColumn("uniform", col("n_distinct") === 1L)
      .withColumn("keep", col("n_distinct") > 1L)
      .orderBy(col("img_id"))
  }

  val m7Oracle: String =
    """WITH px AS (SELECT event_id AS img_id, x, y,
      |    CASE WHEN event_id % 4 = 0 THEN (event_id * 9 + 7) % 256
      |      ELSE (event_id * 31 + x * 7 + y * 13) % 256 END AS g
      |  FROM events, range(0, 32) rx(x), range(0, 20) ry(y)
      |  WHERE event_id < 32),
      |blocks AS (SELECT img_id,
      |    (y * 4 // 20) * 4 + (x * 4 // 32) AS block,
      |    SUM(g * 1000) AS lsum, COUNT(*) AS n
      |  FROM px GROUP BY 1, 2),
      |feats AS (SELECT img_id, block,
      |    CAST(CAST(lsum AS DOUBLE) / (n * 255000.0) AS FLOAT) AS feat
      |  FROM blocks)
      |SELECT img_id, 20 AS height, 32 AS width,
      |  COUNT(*) AS n_feat, COUNT(DISTINCT feat) AS n_distinct,
      |  CAST(MIN(feat) AS FLOAT) AS min_feat,
      |  CAST(MAX(feat) AS FLOAT) AS max_feat,
      |  COUNT(DISTINCT feat) = 1 AS uniform,
      |  COUNT(DISTINCT feat) > 1 AS keep
      |FROM feats GROUP BY img_id ORDER BY img_id""".stripMargin

  /** VIDEO frame sampling under the oracle gate — the third modality's
    * decode path, done with a REAL multi-frame codec: each planted
    * "video" is an animated GIF (the one multi-frame container the JDK
    * decodes natively — [[graft.multimodal.Multimodal.sampleVideoFrames]]
    * walks its frames through `javax.imageio.ImageReader`; grayscale
    * frames round-trip the 256-entry palette bit-exactly, prototyped).
    * Video `id` carries 4/6/8 frames of closed-form pixels
    * g(id,f,x,y) = (id·31 + f·17 + x·7 + y·13) mod 256; the sampler
    * keeps every 2nd frame and emits m4's 16-block luminance features
    * per kept frame, so DuckDB replays the whole thing — frame count,
    * sampling arithmetic, block sums, the one float division — from the
    * formula, never touching the codec. Scale: one sequential decode
    * pass per blob, rows ∝ kept frames, bytes never shuffle, parallelism
    * = file splits — swapping the GIF reader for an mp4 demuxer changes
    * no schema or plan shape.
    */
  def m8VideoFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Multimodal
    val mkGif = (id: Long) => {
      val nF = (4 + (id % 3) * 2).toInt
      Multimodal.encodeGifAnimation((0 until nF).map { f =>
        val img = new java.awt.image.BufferedImage(32, 20,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 20; x <- 0 until 32) {
          val g = ((id * 31 + f * 17 + x * 7 + y * 13) % 256).toInt
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
        }
        img
      })
    }
    val files = Tables.events(s, dir).filter(col("event_id") < 12)
      .select(col("event_id")).as[Long]
      .map(id => Multimodal.MediaFile(id.toString, "image/gif",
        mkGif(id), 0L, Map.empty))
    Multimodal.sampleVideoFrames(files, stride = 2).toDF()
      .select(col("element").cast("long").as("vid"),
        col("frameIdx").as("frame_idx"), col("nFrames").as("n_frames"),
        posexplode(col("features")).as(Seq("block", "feat")))
      .orderBy(col("vid"), col("frame_idx"), col("block"))
  }

  val m8Oracle: String =
    """WITH vids AS (SELECT event_id AS vid,
      |    4 + (event_id % 3) * 2 AS nf
      |  FROM events WHERE event_id < 12),
      |px AS (SELECT vid, nf, f, x, y,
      |    (vid * 31 + f * 17 + x * 7 + y * 13) % 256 AS g
      |  FROM vids, range(0, 8) rf(f), range(0, 32) rx(x),
      |    range(0, 20) ry(y)
      |  WHERE f < nf AND f % 2 = 0),
      |blocks AS (SELECT vid, nf, f,
      |    (y * 4 // 20) * 4 + (x * 4 // 32) AS block,
      |    SUM(g * 1000) AS lsum, COUNT(*) AS n
      |  FROM px GROUP BY 1, 2, 3, 4)
      |SELECT vid, f AS frame_idx, nf AS n_frames, block,
      |  CAST(CAST(lsum AS DOUBLE) / (n * 255000.0) AS FLOAT) AS feat
      |FROM blocks ORDER BY vid, frame_idx, block""".stripMargin

  /** VIDEO near-duplicate detection — m8's third-modality decode
    * composed into the dedup family: re-uploaded, trimmed, or
    * re-concatenated copies of a video share the fingerprints of their
    * surviving frames, so the census is an equi-join of per-frame
    * position-weighted integer hashes ([[graft.multimodal.Multimodal
    * .sampleVideoFrameHashes]] — commutative by construction so DuckDB
    * replays it as a plain SUM over the pixel formula), with a pair
    * reported when ≥ 3 frame hashes match. Planted structure:
    * consecutive ids share content (exact dups, 6 shared frames), every
    * 3rd id also has a TRIMMED copy (its frames are the original's
    * 2..5, so 4 shared hashes at a 2-frame offset — position
    * independence is the thing frame-hash joins buy over whole-file
    * hashes), unrelated videos share nothing. All through the REAL GIF
    * codec round trip. Scale: shuffle ∝ frames; bucket fan-out bounded
    * by content duplication — the a7 landmark shape on video.
    */
  def m9VideoNeardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Multimodal
    val base = Tables.events(s, dir).filter(col("event_id") < 24)
      .select(col("event_id").as("vid"),
        expr("event_id DIV 2").as("src"), lit(0).as("off"), lit(6).as("nf"))
    val trims = Tables.events(s, dir)
      .filter(col("event_id") < 24 && col("event_id") % 3 === 0)
      .select((col("event_id") + 1000).as("vid"),
        expr("event_id DIV 2").as("src"), lit(2).as("off"), lit(4).as("nf"))
    val mkGif = (src: Long, off: Int, nf: Int) =>
      Multimodal.encodeGifAnimation((0 until nf).map { f =>
        val img = new java.awt.image.BufferedImage(32, 20,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 20; x <- 0 until 32) {
          val g = ((src * 31 + (f + off) * 17 + x * 7 + y * 13) % 256).toInt
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
        }
        img
      })
    val files = base.unionByName(trims).as[(Long, Long, Int, Int)]
      .map { case (vid, src, off, nf) =>
        Multimodal.MediaFile(vid.toString, "image/gif",
          mkGif(src, off, nf), 0L, Map.empty) }
    val fh = Multimodal.sampleVideoFrameHashes(files, stride = 1).toDF()
      .select(col("element").cast("long").as("vid"), col("fhash"))
      .staged()
    fh.as("a").join(fh.as("b"),
        col("a.fhash") === col("b.fhash") && col("a.vid") < col("b.vid"))
      .groupBy(col("a.vid").as("va"), col("b.vid").as("vb"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
      .orderBy(col("va"), col("vb"))
  }

  val m9Oracle: String =
    """WITH specs AS (
      |  SELECT event_id AS vid, event_id // 2 AS src, 0 AS off, 6 AS nf
      |    FROM events WHERE event_id < 24
      |  UNION ALL
      |  SELECT event_id + 1000, event_id // 2, 2, 4
      |    FROM events WHERE event_id < 24 AND event_id % 3 = 0),
      |fh AS (SELECT vid, f,
      |    SUM((x * 131 + y + 1) *
      |      ((src * 31 + (f + off) * 17 + x * 7 + y * 13) % 256 + 7))
      |      AS fhash
      |  FROM specs, range(0, 8) rf(f), range(0, 32) rx(x),
      |    range(0, 20) ry(y)
      |  WHERE f < nf GROUP BY 1, 2)
      |SELECT a.vid AS va, b.vid AS vb, COUNT(*) AS shared
      |FROM fh a JOIN fh b ON a.fhash = b.fhash AND a.vid < b.vid
      |GROUP BY 1, 2 HAVING COUNT(*) >= 3
      |ORDER BY va, vb""".stripMargin

  /** HEADER-ONLY media census — type and dimensions from the first
    * bytes of every blob ([[graft.multimodal.Multimodal.probeHeader]]:
    * PNG IHDR, GIF logical screen descriptor), never a codec: the
    * ~32 B/blob metadata pass a 100 TB multimodal corpus runs BEFORE
    * deciding what to decode. Planted blobs go through the REAL
    * encoders (PNG stills of id-dependent sizes, animated GIFs,
    * and junk bytes for the unknown route), so the parse is checked
    * against what actual containers put in their headers; DuckDB
    * replays the expected type/size census from the planting formula.
    */
  def m10HeaderCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Multimodal
    val blobs = Tables.events(s, dir).filter(col("event_id") < 48)
      .select(col("event_id")).as[Long].map { id =>
        val kind = (id % 4).toInt
        val bytes: Array[Byte] = kind match {
          case 0 => // PNG still, id-dependent dims
            val w = (8 + id % 5).toInt
            val h = (6 + id % 4).toInt
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", baos)
            baos.toByteArray
          case 1 => // animated GIF, fixed dims
            Multimodal.encodeGifAnimation(Seq(
              new java.awt.image.BufferedImage(16, 12,
                java.awt.image.BufferedImage.TYPE_INT_RGB)))
          case 2 => // JPEG through the real javax.imageio encoder:
            // the probe must walk actual APP0/DQT/DHT segments to SOF
            val w = (10 + id % 6).toInt
            val h = (7 + id % 5).toInt
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpg", baos)
            baos.toByteArray
          case _ => // junk: not a container (bytes < 251, never a magic)
            Array.tabulate[Byte](64)(i => ((id * 31 + i * 7) % 251).toByte)
        }
        (id, bytes)
      }.toDF("id", "content")
    blobs.select(col("id"),
        Multimodal.probeHeader(col("content")).as("p"))
      .select(col("p._1").as("kind"), col("p._2").as("w"),
        col("p._3").as("h"))
      .groupBy(col("kind"), col("w"), col("h"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("kind"), col("w"), col("h"))
  }

  val m10Oracle: String =
    """WITH b AS (SELECT event_id AS id,
      |    CASE WHEN event_id % 4 = 0 THEN 'png'
      |      WHEN event_id % 4 = 1 THEN 'gif'
      |      WHEN event_id % 4 = 2 THEN 'jpeg' ELSE 'unknown' END AS kind,
      |    CASE WHEN event_id % 4 = 0 THEN 8 + event_id % 5
      |      WHEN event_id % 4 = 1 THEN 16
      |      WHEN event_id % 4 = 2 THEN 10 + event_id % 6
      |      ELSE -1 END AS w,
      |    CASE WHEN event_id % 4 = 0 THEN 6 + event_id % 4
      |      WHEN event_id % 4 = 1 THEN 12
      |      WHEN event_id % 4 = 2 THEN 7 + event_id % 5
      |      ELSE -1 END AS h
      |  FROM events WHERE event_id < 48)
      |SELECT kind, CAST(w AS INT) AS w, CAST(h AS INT) AS h,
      |  COUNT(*) AS n
      |FROM b GROUP BY 1, 2, 3 ORDER BY kind, w, h""".stripMargin

  /** Image perceptual-hash near-dup — the multimodal curation operator
    * the text dedups (d1–d20) have no image sibling for: every planted
    * PNG goes through the REAL codec round trip (closed-form pixels →
    * PNG encode → javax.imageio decode → [[graft.multimodal.PHash]]'s
    * integer-exact luma/resize/DCT/median pipeline), pairs within
    * hamming distance ≤ 6 come from a hamming-LSH banded equi-join (7
    * bands over 64 bits — pigeonhole makes recall exact, the d4
    * construction) or the exact broadcast scan below the signature cap,
    * and DuckDB replays the whole hash from the pixel formula with the
    * SAME fixed-point DCT table (embedded via
    * [[graft.multimodal.PHash.dctTableSql]], so a libm-vs-JVM cosine
    * ULP can never flip a bit). The planted set covers exact dups
    * (identical pixels), near dups (a 4×4 corner block +8 gray — ≤ 4
    * bits moved, prototyped), and a 48×48 render exercising the
    * fractional-area resize weights; unrelated images sit ≥ 20 bits
    * apart, so the census is exactly the planted relationships.
    */
  def m5PhashNeardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.PHash
    val variants = Tables.documents(s, dir).filter(col("doc_id") < 60)
      .select(col("doc_id")).as[Long].flatMap { id =>
        val out = scala.collection.mutable.ArrayBuffer(
          (id, id, 64, 64, 0))
        if (id % 5 == 0) out += ((10000 + id, id, 64, 64, 0))
        if (id % 3 == 0) out += ((20000 + id, id, 64, 64, 1))
        if (id % 7 == 0) out += ((30000 + id, id, 48, 48, 0))
        out
      }.toDF("img_id", "src", "w", "h", "pert")
    val hashUdf = udf((src: Long, w: Int, h: Int, pert: Int) => {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val base = (src * 31 + x * (7 + src % 11) + y * (13 + src % 17) +
          (x.toLong * y * (1 + src % 3)) % 29) % 256
        val g = (if (pert == 1 && x < 4 && y < 4) (base + 8) % 256
                 else base).toInt
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      PHash.ofBytes(baos.toByteArray).get
    })
    val sigs = variants
      .select(col("img_id"),
        hashUdf(col("src"), col("w"), col("h"), col("pert")).as("ph"))
      .staged()
    val maxHd = 6
    val cap = s.conf.get("spark.graft.dedup.maxBroadcastSigs", "262144")
      .toLong
    val pairs = if (sigs.count() <= cap) {
      // exact broadcast hamming scan (the dSimhash fast form): the
      // signature table is 16 B/image, the scan is xor+popcount/pair
      val rows = sigs.orderBy(col("img_id")).as[(Long, Long)].collect()
      val ids = rows.map(_._1)
      val ss = rows.map(_._2)
      val bcIds = s.sparkContext.broadcast(ids)
      val bcSigs = s.sparkContext.broadcast(ss)
      val neighbors = udf((id: Long, sig: Long) => {
        val is = bcIds.value
        val sv = bcSigs.value
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
        var i = 0
        while (i < sv.length) {
          if (is(i) > id) {
            val hd = java.lang.Long.bitCount(sig ^ sv(i))
            if (hd <= maxHd) out += ((is(i), hd))
          }
          i += 1
        }
        out.toSeq
      })
      sigs.select(col("img_id").as("ia"),
          explode(neighbors(col("img_id"), col("ph"))).as("p"))
        .select(col("ia"), col("p._1").as("ib"), col("p._2").as("hd"))
    } else {
      // scale route: 7 bands (6×9 + 1×10 bits) — hd ≤ 6 pairs must
      // agree on ≥ 1 band (pigeonhole), so the equi-join on (band,
      // bits) has exact recall; shuffle volume is images×7, never
      // images². Arithmetic >> then mask is a logical shift for the
      // low bits we keep.
      val bandDefs = Seq((0, 9), (9, 9), (18, 9), (27, 9), (36, 9),
        (45, 9), (54, 10))
      val banded = sigs.select(col("img_id"), col("ph"),
        explode(array(bandDefs.zipWithIndex.map { case ((off, wd), b) =>
          struct(lit(b).as("band"),
            expr(s"(ph >> $off) & ${(1L << wd) - 1}").as("bits"))
        }: _*)).as("bk"))
        .select(col("img_id"), col("ph"), col("bk.band").as("band"),
          col("bk.bits").as("bits"))
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bits") === col("b.bits") &&
            col("a.img_id") < col("b.img_id"))
        .select(col("a.img_id").as("ia"), col("b.img_id").as("ib"),
          expr("bit_count(a.ph ^ b.ph)").as("hd"))
        .filter(col("hd") <= maxHd)
        .distinct()
    }
    pairs.select(col("ia"), col("ib"), col("hd").cast("int").as("hd"))
      .orderBy(col("ia"), col("ib"))
  }

  /** CROSS-MODAL duplicate clustering — the composition a multimodal
    * curation run actually needs: a pair of documents is a duplicate
    * when they match in EITHER space (near-identical text, d2's
    * jaccard ≥ 0.8, OR near-identical image, m5's pHash hamming ≤ 6),
    * and the keep/drop decision is made per CLUSTER of the union edge
    * set (d6's min-label components) — text-only dedup ships the same
    * image twice, image-only dedup ships the same text twice; the
    * union catches both. Planted structure: every doc < 60 carries an
    * image keyed by `doc_id div 2`, so consecutive pairs share an
    * identical image (codec round trip + real pHash still computed —
    * nothing is assumed equal), while the text edges are the corpus's
    * own jaccard pairs. The oracle replays BOTH edge rules from
    * scratch (the full pixel→luma→resize→DCT→median→bits pipeline with
    * the embedded fixed-point DCT table, and the trigram jaccard join)
    * and the component census via a recursive CTE. Scale: edges are
    * the SMALL side (pairs that matched); the union adds one set op;
    * components cost the same log-diameter label rounds as d6.
    */
  def m6CrossmodalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.PHash
    // the pair universe is the planted 60-doc slice — bound the corpus
    // BEFORE shingling (jaccard of a pair depends only on its two docs;
    // the old filter-after paid the full corpus scan, 40 s at heaps-10×)
    val txt = DedupQueries.jaccardPairs(s, dir, 0.8, docBound = Some(60))
      .select(col("ia"), col("ib"))
    val hashUdf = udf((src: Long) => {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val g = ((src * 31 + x * (7 + src % 11) + y * (13 + src % 17) +
          (x.toLong * y * (1 + src % 3)) % 29) % 256).toInt
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      PHash.ofBytes(baos.toByteArray).get
    })
    val sigs = Tables.documents(s, dir).filter(col("doc_id") < 60)
      .select(col("doc_id"), hashUdf(expr("doc_id DIV 2")).as("ph"))
      .staged()
    // 60 signatures — the m5 broadcast hamming scan, 16 B each
    val rows = sigs.orderBy(col("doc_id"))
      .as[(Long, Long)].collect()
    val bcIds = s.sparkContext.broadcast(rows.map(_._1))
    val bcSigs = s.sparkContext.broadcast(rows.map(_._2))
    val neighbors = udf((id: Long, sig: Long) => {
      val is = bcIds.value
      val sv = bcSigs.value
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var i = 0
      while (i < sv.length) {
        if (is(i) > id && java.lang.Long.bitCount(sig ^ sv(i)) <= 6)
          out += is(i)
        i += 1
      }
      out.toSeq
    })
    val img = sigs.select(col("doc_id").as("ia"),
        explode(neighbors(col("doc_id"), col("ph"))).as("ib"))
    val pairs = txt.unionByName(img).distinct()
    val edges = pairs.select(col("ia").as("u"), col("ib").as("v"))
      .unionByName(pairs.select(col("ib").as("u"), col("ia").as("v")))
    DedupQueries.componentLabels(edges)
      .groupBy(col("label").as("keeper"))
      .agg(count(lit(1)).as("n_docs"), sum(col("id")).as("checksum"))
      .orderBy(col("keeper"))
  }

  val m6Oracle: String =
    s"""WITH RECURSIVE s0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(length(text) - 1, 1)),
      |    i -> substr(text, CAST(i AS INT), 3))) AS g FROM documents),
      |sdist AS (SELECT DISTINCT doc_id, g FROM s0),
      |sz AS (SELECT doc_id, COUNT(*) n FROM sdist GROUP BY 1),
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) i
      |  FROM sdist a JOIN sdist b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |txt AS (SELECT ia, ib FROM inter
      |  JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      |  WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= 0.8
      |    AND ia < 60 AND ib < 60),
      |dct(u, x, t) AS (SELECT * FROM (VALUES ${
        graft.multimodal.PHash.dctTableSql})),
      |imgs AS (SELECT doc_id AS img_id, doc_id // 2 AS src
      |  FROM documents WHERE doc_id < 60),
      |px AS (SELECT img_id, x, y,
      |    1000 * ((src*31 + x*(7+src%11) + y*(13+src%17)
      |      + (x*y*(1+src%3))%29) % 256) AS l
      |  FROM imgs, range(0, 64) rx(x), range(0, 64) ry(y)),
      |cols AS (SELECT img_id, y, i,
      |    SUM(l * ((GREATEST(0, LEAST((x+1)*32, (i+1)*64)
      |      - GREATEST(x*32, i*64))) // 32)) AS s
      |  FROM px, range(0, 32) ri(i) GROUP BY 1, 2, 3),
      |rs AS (SELECT img_id, j, i,
      |    SUM(s * ((GREATEST(0, LEAST((y+1)*32, (j+1)*64)
      |      - GREATEST(y*32, j*64))) // 32)) AS p
      |  FROM cols, range(0, 32) rj(j) GROUP BY 1, 2, 3),
      |a AS (SELECT img_id, dct.u AS u, j, SUM(p * t) AS av
      |  FROM rs JOIN dct ON dct.x = rs.i GROUP BY 1, 2, 3),
      |c AS (SELECT img_id, a.u AS u, dct.u AS v, SUM(av * t) AS c
      |  FROM a JOIN dct ON dct.x = a.j GROUP BY 1, 2, 3),
      |med AS (SELECT img_id, c AS med FROM (
      |    SELECT img_id, c, ROW_NUMBER() OVER (PARTITION BY img_id
      |      ORDER BY c) rn
      |    FROM c WHERE NOT (u = 0 AND v = 0)) WHERE rn = 32),
      |bits AS (SELECT c.img_id, u * 8 + v AS k,
      |    CASE WHEN c > med THEN 1 ELSE 0 END AS b
      |  FROM c JOIN med ON med.img_id = c.img_id),
      |ipairs AS (SELECT x.img_id ia, y.img_id ib
      |  FROM bits x JOIN bits y ON x.k = y.k AND x.img_id < y.img_id
      |  GROUP BY 1, 2
      |  HAVING SUM(CASE WHEN x.b <> y.b THEN 1 ELSE 0 END) <= 6),
      |pairs AS (SELECT ia, ib FROM txt UNION SELECT ia, ib FROM ipairs),
      |edges AS (SELECT ia u, ib v FROM pairs
      |  UNION ALL SELECT ib, ia FROM pairs),
      |nodes AS (SELECT DISTINCT u FROM edges),
      |reach AS (
      |  SELECT u, u AS lbl FROM nodes
      |  UNION
      |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u),
      |comp AS (SELECT u, MIN(lbl) AS keeper FROM reach GROUP BY u)
      |SELECT keeper, COUNT(*) AS n_docs, CAST(SUM(u) AS BIGINT) AS checksum
      |FROM comp GROUP BY keeper ORDER BY keeper""".stripMargin

  val m5Oracle: String =
    s"""WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < 60),
      |dct(u, x, t) AS (SELECT * FROM (VALUES ${
        graft.multimodal.PHash.dctTableSql})),
      |imgs AS (
      |  SELECT id AS img_id, id AS src, 64 AS w, 64 AS h, 0 AS pert FROM ids
      |  UNION ALL SELECT 10000+id, id, 64, 64, 0 FROM ids WHERE id % 5 = 0
      |  UNION ALL SELECT 20000+id, id, 64, 64, 1 FROM ids WHERE id % 3 = 0
      |  UNION ALL SELECT 30000+id, id, 48, 48, 0 FROM ids WHERE id % 7 = 0),
      |px AS (SELECT img_id, w, h, x, y,
      |    1000 * (CASE WHEN pert = 1 AND x < 4 AND y < 4
      |      THEN ((src*31 + x*(7+src%11) + y*(13+src%17) + (x*y*(1+src%3))%29) % 256 + 8) % 256
      |      ELSE (src*31 + x*(7+src%11) + y*(13+src%17) + (x*y*(1+src%3))%29) % 256 END) AS l
      |  FROM imgs, range(0, 64) rx(x), range(0, 64) ry(y)
      |  WHERE x < w AND y < h),
      |cols AS (SELECT img_id, h, y, i,
      |    SUM(l * ((GREATEST(0, LEAST((x+1)*32, (i+1)*w) - GREATEST(x*32, i*w)))
      |             // (CASE WHEN w = 64 THEN 32 ELSE 16 END))) AS s
      |  FROM px, range(0, 32) ri(i)
      |  GROUP BY 1, 2, 3, 4),
      |rs AS (SELECT img_id, j, i,
      |    SUM(s * ((GREATEST(0, LEAST((y+1)*32, (j+1)*h) - GREATEST(y*32, j*h)))
      |             // (CASE WHEN h = 64 THEN 32 ELSE 16 END))) AS p
      |  FROM cols, range(0, 32) rj(j)
      |  GROUP BY 1, 2, 3),
      |a AS (SELECT img_id, dct.u AS u, j, SUM(p * t) AS av
      |  FROM rs JOIN dct ON dct.x = rs.i GROUP BY 1, 2, 3),
      |c AS (SELECT img_id, a.u AS u, dct.u AS v, SUM(av * t) AS c
      |  FROM a JOIN dct ON dct.x = a.j GROUP BY 1, 2, 3),
      |med AS (SELECT img_id, c AS med FROM (
      |    SELECT img_id, c, ROW_NUMBER() OVER (PARTITION BY img_id ORDER BY c) rn
      |    FROM c WHERE NOT (u = 0 AND v = 0)) WHERE rn = 32),
      |bits AS (SELECT c.img_id, u * 8 + v AS k,
      |    CASE WHEN c > med THEN 1 ELSE 0 END AS b
      |  FROM c JOIN med ON med.img_id = c.img_id),
      |hd AS (SELECT x.img_id ia, y.img_id ib,
      |    SUM(CASE WHEN x.b <> y.b THEN 1 ELSE 0 END) AS hd
      |  FROM bits x JOIN bits y ON x.k = y.k AND x.img_id < y.img_id
      |  GROUP BY 1, 2)
      |SELECT ia, ib, CAST(hd AS INT) AS hd FROM hd WHERE hd <= 6
      |ORDER BY ia, ib""".stripMargin

  val m4Oracle: String =
    """WITH px AS (SELECT event_id AS img_id, x, y,
      |    (event_id * 31 + x * 7 + y * 13) % 256 AS g
      |  FROM events, range(0, 32) rx(x), range(0, 20) ry(y)
      |  WHERE event_id < 16),
      |blocks AS (SELECT img_id,
      |    (y * 4 // 20) * 4 + (x * 4 // 32) AS block,
      |    SUM(g * 1000) AS lsum, COUNT(*) AS n
      |  FROM px GROUP BY 1, 2)
      |SELECT img_id, 20 AS height, 32 AS width, 3 AS channels, block,
      |  CAST(CAST(lsum AS DOUBLE) / (n * 255000.0) AS FLOAT) AS feat
      |FROM blocks ORDER BY img_id, block""".stripMargin

  /** io16's time travel RE-ANSWERED through the DataSourceV2 read path
    * ([[graft.io.dsv2.GraftDataSource]]): the same versioned commits +
    * orphan, but every read is `spark.read.format("graft")` — latest by
    * default, `versionAsOf` for v1 — so the gate proves a user who only
    * knows `spark.read` gets the identical snapshot semantics the Scala
    * API gives (orphans invisible, old versions immutable). Shares
    * io16's oracle verbatim: the answers must be the same.
    */
  def io38Dsv2TimeTravel(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val root = tmpDir(s) + "/graft_io38_tbl"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    batch(0, 1500).write.parquet(s"$root/data/b1")
    val v1 = Manifest.commit(s, root, s"$root/data/b1")
    batch(1500, 3000).write.parquet(s"$root/data/b2")
    Manifest.commit(s, root, s"$root/data/b2")
    batch(3000, 4500).write.parquet(s"$root/data/b3") // orphan
    val asOfV1 = s.read.format("graft")
      .option("versionAsOf", v1.toString).load(root)
      .withColumn("version", lit(1))
    val latest = s.read.format("graft").load(root)
      .withColumn("version", lit(2))
    asOfV1.unionByName(latest)
      .groupBy(col("version"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("version"), col("l_returnflag"))
  }

  /** io24's skip-stats pruning RE-ANSWERED through DSv2: the pushed
    * `BETWEEN` translates to sidecar ranges at PLANNING and whole
    * committed directories never enter the file index (the gate
    * requires `skippedDirs=2` off the physical plan — b1 and b3 gone,
    * b2 kept, statless b4 conservatively kept); phase 1 is the plain
    * snapshot filtered post-hoc. Shares io24's oracle: pruning is IO
    * only, the census must be identical.
    */
  def io39Dsv2SkipScan(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Manifest, SkipStats}
    val root = tmpDir(s) + "/graft_io39_tbl"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val u = okeyUnit(s, dir, 15)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    // all four batch directories in ONE source pass (the loop scanned
    // lineitem once per batch); the per-dir sidecar/commit discipline
    // below is unchanged, so versions and pruning facts are identical
    val ok = col("l_orderkey")
    writeBatches(s, root, batch(0, 3 * u + u / 10),
      when(ok < 0, -1).when(ok < u, 0).when(ok < 2 * u, 1)
        .when(ok < 3 * u, 2).otherwise(3),
      4, b => s"b${b + 1}")
    for (name <- Seq("b1", "b2", "b3")) {
      SkipStats.write(s, s"$root/data/$name", Seq("l_orderkey"))
      Manifest.commit(s, root, s"$root/data/$name")
    }
    Manifest.commit(s, root, s"$root/data/b4") // no sidecar
    val (plo, phi) = (u + u / 5, u + (4 * u) / 5 - 1)
    val viaDsv2 = s.read.format("graft").load(root)
      .filter(col("l_orderkey").between(plo, phi))
    // the pin that pruning happened AT PLANNING: the physical plan's
    // scan already records b1/b3 as skipped (LayoutSpec pins the
    // partition-level consequence)
    val planned = viaDsv2.queryExecution.executedPlan.toString
    require(planned.contains("skippedDirs=2"),
      s"DSv2 scan must record 2 pruned directories, plan:\n$planned")
    def census(df: DataFrame, tag: Int) = df
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("phase", lit(tag))
    census(viaDsv2, 0)
      .unionByName(census(Manifest.snapshot(s, root)
        .filter(col("l_orderkey").between(plo, phi)), 1))
      .select(col("phase"), col("l_returnflag"), col("n"),
        col("sum_okey"), col("sum_cents"))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  /** io21's merge-on-read RE-ANSWERED through DSv2: phase 0 reads the
    * pre-delete version (`versionAsOf` — no tombstones yet), phase 1
    * the tombstoned version with `morKey` (the reader-side anti-merge:
    * data files untouched, deleted keys dropped row-level), phase 2 the
    * folded version plain (no tombstones left — and the gate requires
    * the no-morKey read to FAIL on the tombstoned version first, the
    * fail-loud contract). Shares io21's oracle.
    */
  def io40Dsv2Mor(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Manifest, MergeOnRead}
    val root = tmpDir(s) + "/graft_io40_tbl"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val k = okeyUnit(s, dir)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    batch(0, k).write.parquet(s"$root/data/b1")
    Manifest.commit(s, root, s"$root/data/b1")
    batch(k, 2 * k).write.parquet(s"$root/data/b2")
    val v2 = Manifest.commit(s, root, s"$root/data/b2")
    val v3 = MergeOnRead.deleteWhere(s, root, "l_orderkey",
      col("l_orderkey").between(k + k / 3, k + k / 3 + (4 * k) / 15 - 1),
      s"$root/data")
    require(v3.nonEmpty, "a matching delete must commit a tombstone")
    // fail-loud: the tombstoned version must refuse a plain read (the
    // check fires when the scan is built — count() forces planning)
    val refused =
      try { s.read.format("graft").load(root).count(); false }
      catch { case e: Throwable =>
        def hit(t: Throwable): Boolean = t != null &&
          (Option(t.getMessage).exists(_.contains("tombstones")) ||
            hit(t.getCause))
        hit(e) }
    require(refused, "a live-tombstone table must demand morKey")
    def census(df: DataFrame, tag: Int) = df
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("phase", lit(tag))
    val pre = s.read.format("graft")
      .option("versionAsOf", v2.toString).load(root)
    val merged = s.read.format("graft").option("morKey", "l_orderkey")
      .option("versionAsOf", v3.get.toString).load(root)
    val folded = MergeOnRead.fold(s, root, "l_orderkey", s"$root/data")
    require(folded.nonEmpty, "fold must rewrite the tombstoned table")
    val post = s.read.format("graft").load(root) // no tombstones left
    census(pre, 0).unionByName(census(merged, 1))
      .unionByName(census(post, 2))
      .select(col("phase"), col("l_returnflag"), col("n"),
        col("sum_okey"), col("sum_cents"))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  /** The WRITE half of the DSv2 story: a table built PURELY through
    * `df.write.format("graft")` — create (errorifexists → v1), append
    * (v2, each with `statsCols` sidecars so pruning works from the
    * first version), then overwrite as a REPLACING commit (v3) that
    * old versions still time-travel across. Censuses pin all three
    * versions; in-gate requires pin the version ledger, planning-time
    * pruning on the WRITTEN sidecars, and the create-on-existing
    * refusal. The oracle replays the three phases from lineitem.
    */
  def io41Dsv2Write(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val root = tmpDir(s) + "/graft_io41_tbl"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    batch(0, 1500).write.format("graft")
      .option("statsCols", "l_orderkey").save(root)
    batch(1500, 3000).write.format("graft")
      .mode(org.apache.spark.sql.SaveMode.Append)
      .option("statsCols", "l_orderkey").save(root)
    batch(0, 1000).write.format("graft")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).save(root)
    require(Manifest.versions(s, root) == Seq(1, 2, 3),
      "create/append/overwrite must commit exactly versions 1..3")
    val refused =
      try { batch(0, 1).write.format("graft").save(root); false }
      catch { case _: Throwable => true }
    require(refused, "errorifexists on an existing table must refuse")
    // written sidecars prune at planning: the v2 read filtered to the
    // first batch's key range must skip the appended directory
    val prunedPlan = s.read.format("graft")
      .option("versionAsOf", "2").load(root)
      .filter(col("l_orderkey") < 1000)
      .queryExecution.executedPlan.toString
    require(prunedPlan.contains("skippedDirs=1"),
      s"written sidecars must prune at planning:\n$prunedPlan")
    def census(df: DataFrame, tag: Int) = df
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("phase", lit(tag))
    census(s.read.format("graft").option("versionAsOf", "1").load(root), 0)
      .unionByName(census(
        s.read.format("graft").option("versionAsOf", "2").load(root), 1))
      .unionByName(census(s.read.format("graft").load(root), 2))
      .select(col("phase"), col("l_returnflag"), col("n"),
        col("sum_okey"), col("sum_cents"))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io41Oracle: String =
    """WITH li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem),
      |snap AS (
      |  SELECT 0 AS phase, * FROM li WHERE l_orderkey < 1500
      |  UNION ALL SELECT 1, * FROM li WHERE l_orderkey < 3000
      |  UNION ALL SELECT 2, * FROM li WHERE l_orderkey < 1000)
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** Register a [[graft.io.dsv2.GraftCatalog]] named `cat` over the tmp
    * warehouse, build io20/io21's two-batch lineitem table under it,
    * and return (root, k). Shared by the SQL-DML gates (io42–io44).
    */
  private def dmlTable(s: SparkSession, dir: String, cat: String,
      table: String): (String, Long) = {
    import graft.io.Manifest
    s.conf.set(s"spark.sql.catalog.$cat", "graft.io.dsv2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", tmpDir(s))
    val root = tmpDir(s) + s"/$table"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val k = okeyUnit(s, dir)
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    // both range batches in ONE pass (this fixture fronts ~10 SQL-DML
    // gates; the two filtered writes scanned lineitem twice), same
    // [0,k) / [k,2k) buckets, same b1/b2 names, same two versions
    writeBatches(s, root, li, col("l_orderkey") / k, 2,
      b => s"b${b + 1}")
      .foreach(d => Manifest.commit(s, root, d))
    (root, k)
  }

  private def dmlCensus(df: DataFrame, tag: Int): DataFrame = df
    .groupBy(col("l_returnflag"))
    .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
      sum(col("cents")).as("sum_cents"))
    .withColumn("phase", lit(tag))
    .select(col("phase"), col("l_returnflag"), col("n"),
      col("sum_okey"), col("sum_cents"))

  /** io20's copy-on-write DELETE re-answered as PLAIN SQL — `DELETE
    * FROM cat.tbl WHERE …` planned through Spark's group-based
    * `SupportsRowLevelOperations` path ([[graft.io.dsv2
    * .GraftRowLevelBuilder]]): no mor key recorded, so the snapshot's
    * surviving rows rewrite as ONE replacing commit; the pre-delete
    * version still time-travels (phase 0 reads it AFTER the delete).
    * Same censuses, same oracle text as io20 — what changed is only
    * WHO issues the delete (a SQL user, not the Scala API).
    */
  def io42SqlDeleteCow(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Manifest, MergeOnRead}
    val (root, k) = dmlTable(s, dir, "g42", "graft_io42_tbl")
    val lo = k + k / 3
    val hi = k + k / 3 + (4 * k) / 15 - 1
    s.sql(s"DELETE FROM g42.graft_io42_tbl " +
      s"WHERE l_orderkey BETWEEN $lo AND $hi")
    val vs = Manifest.versions(s, root)
    require(vs == Seq(1, 2, 3),
      s"the SQL delete must land as ONE replacing commit, got $vs")
    require(!Manifest.entries(s, root).exists(MergeOnRead.isTombstone),
      "the copy-on-write path must not write tombstones")
    val pre = s.sql(
      "SELECT * FROM g42.graft_io42_tbl VERSION AS OF 2")
    val post = s.sql("SELECT * FROM g42.graft_io42_tbl")
    dmlCensus(pre, 0).unionByName(dmlCensus(post, 1))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io42Oracle: String = io20Oracle

  /** The SQL TABLE LIFECYCLE end to end — Delta/Iceberg's DDL UX over
    * the manifest protocol ([[graft.io.dsv2.GraftCatalog]] as a
    * `StagingTableCatalog`):
    *
    *  1. `CREATE TABLE … TBLPROPERTIES('statsCols'='l_orderkey') AS
    *     SELECT` lands ATOMICALLY as version 1 (staged commit — never
    *     a create-then-append two-version ledger) with the skip-stats
    *     sidecar on the CTAS directory.
    *  2. A plain `INSERT INTO` appends version 2, and the PERSISTED
    *     `statsCols` property governs it too — the insert directory is
    *     born prunable without the writer re-passing options, pinned
    *     here by requiring a selective read to skip it.
    *  3. `DROP TABLE` refuses while a registered shallow clone still
    *     reads the table's directories (io33's retention guard, now at
    *     the DDL front door); dropping the CLONE deregisters it, after
    *     which the census (phase 0 = CTAS snapshot via time travel,
    *     phase 1 = post-insert head) answers from the intact table.
    *
    * 100 TB: a staged CTAS is one manifest rename of directories the
    * query already wrote — create cost ∝ query, commit cost O(1); the
    * props sidecar is one tiny file read once per write plan.
    */
  def io48SqlDdl(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    s.conf.set("spark.sql.catalog.g48", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g48.root", tmpDir(s))
    val root = tmpDir(s) + "/graft_io48_tbl"
    val cloneRoot = tmpDir(s) + "/graft_io48_clone"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    fs.delete(new org.apache.hadoop.fs.Path(cloneRoot), true)
    val k = okeyUnit(s, dir)
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .filter(col("l_orderkey") < 2 * k)
      .createOrReplaceTempView("io48_src")
    s.sql(s"""CREATE TABLE g48.graft_io48_tbl
      TBLPROPERTIES('statsCols'='l_orderkey')
      AS SELECT * FROM io48_src WHERE l_orderkey < $k""")
    require(Manifest.versions(s, root) == Seq(1),
      "CTAS must stage into ONE version-1 commit, got " +
        Manifest.versions(s, root))
    val ctasDir = Manifest.committed(s, root).head
    require(graft.io.SkipStats.read(fs, ctasDir)
      .exists(_.contains("l_orderkey")),
      "the statsCols property must write the CTAS directory's sidecar")
    s.sql(s"INSERT INTO g48.graft_io48_tbl " +
      s"SELECT * FROM io48_src WHERE l_orderkey >= $k")
    require(Manifest.versions(s, root) == Seq(1, 2),
      "INSERT INTO must append exactly one version")
    // the persisted property made the INSERT prunable: a read below k
    // must skip the insert directory at planning
    val probe = s.sql(
      s"SELECT * FROM g48.graft_io48_tbl WHERE l_orderkey < ${k / 2}")
    probe.collect()
    require(probe.queryExecution.executedPlan.toString
      .contains("skippedDirs=1"),
      "the persisted statsCols property must keep INSERTs prunable")
    // clone-guarded DROP: the source refuses under a live registration
    Manifest.shallowClone(s, root, cloneRoot)
    val refused = scala.util.Try(s.sql("DROP TABLE g48.graft_io48_tbl"))
    require(refused.isFailure && Manifest.versions(s, root).nonEmpty,
      "DROP must refuse while a registered clone reads this table")
    s.sql("DROP TABLE g48.graft_io48_clone")
    require(Manifest.registeredClones(s, root).isEmpty,
      "dropping the clone must release its source registration")
    val pre = s.sql("SELECT * FROM g48.graft_io48_tbl VERSION AS OF 1")
    val post = s.sql("SELECT * FROM g48.graft_io48_tbl")
    dmlCensus(pre, 0).unionByName(dmlCensus(post, 1))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io48Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |snap AS (
      |  SELECT 0 AS phase, l_orderkey, l_returnflag, cents FROM li
      |  WHERE l_orderkey < (SELECT k FROM mk)
      |  UNION ALL
      |  SELECT 1, l_orderkey, l_returnflag, cents FROM li)
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** io21's merge-on-read DELETE re-answered as PLAIN SQL: the table
    * records its merge key, so the same `DELETE FROM` statement plans
    * DELTA-based — Spark hands the matched keys to the writer and the
    * commit is one appending tombstone directory, data untouched
    * ([[graft.io.dsv2.GraftDeltaDelete]]). A no-match DELETE commits
    * nothing. [[graft.io.MergeOnRead.fold]] later ends the deferral;
    * the merged and folded censuses must be identical (io21's
    * contract), and the oracle is io21's text verbatim.
    */
  def io43SqlDeleteMor(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Manifest, MergeOnRead}
    import graft.io.dsv2.GraftMorKey
    val (root, k) = dmlTable(s, dir, "g43", "graft_io43_tbl")
    GraftMorKey.drop(s, root)
    GraftMorKey.set(s, root, "l_orderkey")
    val dataDirs = Manifest.entries(s, root)
    val lo = k + k / 3
    val hi = k + k / 3 + (4 * k) / 15 - 1
    s.sql(s"DELETE FROM g43.graft_io43_tbl " +
      s"WHERE l_orderkey BETWEEN $lo AND $hi")
    val entries = Manifest.entries(s, root)
    require(entries.count(MergeOnRead.isTombstone) == 1,
      s"the SQL delete must commit exactly one tombstone dir: $entries")
    require(entries.filterNot(MergeOnRead.isTombstone) == dataDirs,
      "a merge-on-read delete must leave every data directory in place")
    val vAfter = Manifest.versions(s, root)
    s.sql("DELETE FROM g43.graft_io43_tbl WHERE l_orderkey = -1")
    require(Manifest.versions(s, root) == vAfter,
      "a DELETE matching nothing must not commit")
    val pre = s.sql(
      "SELECT * FROM g43.graft_io43_tbl VERSION AS OF 2")
    val merged = s.sql("SELECT * FROM g43.graft_io43_tbl")
    val folded = MergeOnRead.fold(s, root, "l_orderkey", s"$root/data")
    require(folded.nonEmpty, "fold must rewrite the tombstoned table")
    require(!Manifest.entries(s, root).exists(MergeOnRead.isTombstone),
      "after the fold no tombstone entries remain")
    val post = s.sql("SELECT * FROM g43.graft_io43_tbl")
    dmlCensus(pre, 0).unionByName(dmlCensus(merged, 1))
      .unionByName(dmlCensus(post, 2))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io43Oracle: String = io21Oracle

  /** io22's upsert re-answered as PLAIN SQL `MERGE INTO … WHEN MATCHED
    * THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *` — ANSI MERGE
    * semantics this time (every matched target ROW updates in place;
    * lineitem keys repeat, so counts differ from io22's key-replacing
    * upsert and the oracle replays the ANSI form), planned group-based
    * copy-on-write: one replacing commit, time travel intact.
    */
  def io44SqlMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val (root, k) = dmlTable(s, dir, "g44", "graft_io44_tbl")
    val keys = Tables.lineitem(s, dir).select(col("l_orderkey")).distinct()
    keys.filter(col("l_orderkey").between(k / 3, (2 * k) / 3 - 1))
      .select(col("l_orderkey"), lit("U").as("l_returnflag"),
        (col("l_orderkey") * 7).as("cents"))
      .unionByName(keys
        .filter(col("l_orderkey").between(2 * k, 2 * k + k / 3 - 1))
        .select(col("l_orderkey"), lit("I").as("l_returnflag"),
          (col("l_orderkey") * 3).as("cents")))
      .createOrReplaceTempView("graft_io44_src")
    s.sql("""MERGE INTO g44.graft_io44_tbl t USING graft_io44_src s
      ON t.l_orderkey = s.l_orderkey
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    require(Manifest.versions(s, root) == Seq(1, 2, 3),
      "the SQL MERGE must land as ONE replacing commit")
    val pre = s.sql(
      "SELECT * FROM g44.graft_io44_tbl VERSION AS OF 2")
    val post = s.sql("SELECT * FROM g44.graft_io44_tbl")
    dmlCensus(pre, 0).unionByName(dmlCensus(post, 1))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  /** SQL `UPDATE … SET … WHERE …` under the oracle gate — the remaining
    * DML verb: planned group-based copy-on-write with the runtime group
    * filter restricting the rewrite to the directories containing
    * matches (the in-gate require pins the untouched batch carrying
    * VERBATIM — io20's surgical contract, now for UPDATE via SQL).
    */
  def io45SqlUpdate(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val (root, k) = dmlTable(s, dir, "g45", "graft_io45_tbl")
    // the predicate hits only batch 2 ([k, 2k)) — batch 1 must carry
    val thr = k + k / 3
    s.sql(s"UPDATE g45.graft_io45_tbl SET l_returnflag = 'U', " +
      s"cents = l_orderkey * 7 WHERE l_orderkey >= $thr")
    require(Manifest.versions(s, root) == Seq(1, 2, 3),
      "the SQL update must land as ONE replacing commit")
    val entries = Manifest.committed(s, root)
    require(entries.contains(s"$root/data/b1"),
      s"the untouched directory must carry verbatim, got $entries")
    require(!entries.contains(s"$root/data/b2") && entries.size == 2,
      s"only the matched directory is rewritten, got $entries")
    val pre = s.sql(
      "SELECT * FROM g45.graft_io45_tbl VERSION AS OF 2")
    val post = s.sql("SELECT * FROM g45.graft_io45_tbl")
    dmlCensus(pre, 0).unionByName(dmlCensus(post, 1))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io45Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |upd AS (
      |  SELECT l_orderkey,
      |    CASE WHEN l_orderkey >= k + k // 3 THEN 'U'
      |         ELSE l_returnflag END AS l_returnflag,
      |    CASE WHEN l_orderkey >= k + k // 3 THEN l_orderkey * 7
      |         ELSE cents END AS cents
      |  FROM li, mk),
      |snap AS (
      |  SELECT 0 AS phase, * FROM li
      |  UNION ALL SELECT 1, * FROM upd)
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** Runtime directory pruning under the oracle gate: a selective dim
    * join against a manifest fact table pushes Spark's dynamic IN
    * filter into the graft scan ([[graft.io.dsv2.GraftScan]] advertises
    * its sidecar-covered columns), which prunes whole committed
    * directories at RUNTIME with the same sidecar overlap rule the
    * static path uses at planning. In-gate requires pin the mechanism:
    * the fact scan carries a runtime filter and reads ONLY the matching
    * directory's rows; the oracle replays the join census.
    */

  /** Write `n` bucketed fixture batches under `root/data/bN` in ONE
    * partitioned pass over `df` (the per-gate loops used to scan the
    * source once PER batch), leaving each directory ready for the
    * caller's own sidecar/commit discipline. Rows whose bucket falls
    * outside [0, n) are excluded, matching the loops' range filters;
    * an empty bucket still gets its (empty) directory.
    */
  private def writeBatches(s: SparkSession, root: String, df: DataFrame,
      bucket: org.apache.spark.sql.Column, n: Int,
      nameOf: Int => String = b => s"b$b"): Seq[String] = {
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val stage = s"$root/stage-batches"
    df.withColumn("_gb", bucket.cast("int"))
      .filter(col("_gb") >= 0 && col("_gb") < n)
      .repartition(col("_gb"))
      .write.mode("overwrite").partitionBy("_gb").parquet(stage)
    fsH.mkdirs(new org.apache.hadoop.fs.Path(s"$root/data"))
    val dirs = (0 until n).map { b =>
      val src = new org.apache.hadoop.fs.Path(s"$stage/_gb=$b")
      val d = s"$root/data/${nameOf(b)}"
      if (fsH.exists(src))
        require(fsH.rename(src, new org.apache.hadoop.fs.Path(d)),
          s"staging rename of batch $b failed")
      else df.limit(0).drop("_gb").write.parquet(d)
      d
    }
    fsH.delete(new org.apache.hadoop.fs.Path(stage), true)
    dirs
  }

  def io46RuntimePrune(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    s.conf.set("spark.sql.catalog.g46", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g46.root", tmpDir(s))
    val root = tmpDir(s) + "/graft_io46_tbl"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val k = okeyUnit(s, dir, frac = 4)
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    writeBatches(s, root, li, col("l_orderkey") / k, 4)
      .foreach(d => Manifest.commitWithStats(s, root, d,
        Seq("l_orderkey")))
    // dim: a 1/97-residue key sample (selected rows from the first
    // quarter, unselected distractors corpus-wide) — BROADCAST-sized at
    // every scale factor, which is what lets Spark reuse the join's
    // broadcast as the runtime IN filter, and the flagged value set
    // stays well under the runtime-prune cap; parquet-backed (the
    // pruning side needs a live selective Filter node)
    val dimPath = tmpDir(s) + "/graft_io46_dim"
    fsH.delete(new org.apache.hadoop.fs.Path(dimPath), true)
    Tables.lineitem(s, dir).select(col("l_orderkey")).distinct()
      .filter(col("l_orderkey") < 4 * k && col("l_orderkey") % 97 === 3)
      .select(col("l_orderkey").as("k"),
        (col("l_orderkey") < k).cast("int").as("sel"))
      .write.parquet(dimPath)
    s.read.parquet(dimPath).createOrReplaceTempView("graft_io46_dim")
    val joined = s.sql(
      """SELECT f.l_orderkey, f.l_returnflag, f.cents
         FROM g46.graft_io46_tbl f
         JOIN graft_io46_dim d ON f.l_orderkey = d.k
         WHERE d.sel = 1""")
    joined.collect() // materialize so the scan metrics are real
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution
        .datasources.v2.BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans)
    }
    val fact = scans(joined.queryExecution.executedPlan)
      .find(_.toString.contains("graft_io46_tbl"))
    require(fact.nonEmpty, "fact BatchScan not found in the join plan")
    require(fact.get.runtimeFilters.nonEmpty,
      "the selective dim join must push a runtime filter into the scan")
    val b0Rows = li.filter(col("l_orderkey") < k).count()
    val read = fact.get.metrics("numOutputRows").value
    require(read == b0Rows,
      s"runtime pruning must read only the matching directory " +
        s"($b0Rows rows), read $read")
    joined.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .select(col("l_returnflag"), col("n"), col("sum_okey"),
        col("sum_cents"))
      .orderBy(col("l_returnflag"))
  }

  val io46Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 4 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 4 * k),
      |j AS (SELECT li.* FROM li, mk
      |      WHERE l_orderkey < k AND l_orderkey % 97 = 3)
      |SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM j GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** io46's directory pruning for a dim join the BROADCAST-bound
    * runtime path cannot serve — the two-phase fallback
    * ([[graft.io.dsv2.TwoPhasePruning]]). Broadcast is forced OFF for
    * the join (the deterministic stand-in for "dim above
    * autoBroadcastJoinThreshold" at every scale factor), so Spark's V2
    * runtime filter never fires (`translateRuntimeFilterV2` needs the
    * broadcast's InSubqueryExec — pinned by requiring the sort-merge
    * plan carries NO runtime filter); instead phase 1 collects the
    * dim's distinct keys under the hard cap and phase 2 plans the fact
    * scan with a static IN the sidecar disjunction prunes at PLANNING.
    * In-gate requires: the fact scan reads exactly the matching
    * directory's rows; past the cap the fallback FAILS OPEN to the
    * unfiltered scan and the answer is unchanged. Oracle: io46's text
    * verbatim — the join's answer must not depend on which pruning
    * path served it.
    */
  def io51TwophasePrune(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    import graft.io.dsv2.TwoPhasePruning
    val root = tmpDir(s) + "/graft_io51_tbl"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val k = okeyUnit(s, dir, frac = 4)
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    writeBatches(s, root, li, col("l_orderkey") / k, 4)
      .foreach(d => Manifest.commitWithStats(s, root, d,
        Seq("l_orderkey")))
    val dimPath = tmpDir(s) + "/graft_io51_dim"
    fsH.delete(new org.apache.hadoop.fs.Path(dimPath), true)
    Tables.lineitem(s, dir).select(col("l_orderkey")).distinct()
      .filter(col("l_orderkey") < 4 * k && col("l_orderkey") % 97 === 3)
      .select(col("l_orderkey").as("k"),
        (col("l_orderkey") < k).cast("int").as("sel"))
      .write.parquet(dimPath)
    val dim = s.read.parquet(dimPath).filter(col("sel") === 1)
    val bcast = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBcast = scala.util.Try(
      s.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold"))
      .toOption.flatMap(Option(_)).filter(_.nonEmpty)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution
        .datasources.v2.BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans)
    }
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val fact = TwoPhasePruning.prunedScan(s, root, "l_orderkey",
        dim.select(col("k")))
      val joined = fact.join(dim, fact("l_orderkey") === dim("k"))
        .select(col("l_orderkey"), col("l_returnflag"), col("cents"))
      joined.collect()
      val factNode = scans(joined.queryExecution.executedPlan)
        .find(_.toString.contains("graft_io51_tbl"))
      require(factNode.nonEmpty, "fact BatchScan not found")
      // with broadcast off, Spark leaves only an inert TrueLiteral in
      // the dynamic-pruning slot (no InSubqueryExec to translate) —
      // pin that, so read==b0Rows below can only come from the
      // two-phase static IN, not the runtime path
      require(factNode.get.runtimeFilters.forall(e =>
          e.find(_.isInstanceOf[
            org.apache.spark.sql.execution.InSubqueryExec]).isEmpty),
        "broadcast is off — the V2 runtime filter must NOT have " +
          "fired (else this gate isn't testing the fallback)")
      val b0Rows = li.filter(col("l_orderkey") < k).count()
      val read = factNode.get.metrics("numOutputRows").value
      require(read == b0Rows,
        s"two-phase pruning must read only the matching directory " +
          s"($b0Rows rows), read $read")
      // fail-open past the cap: a 1-key budget can't hold the dim's
      // key set, so the scan stays unfiltered — and the answer is
      // IDENTICAL (never wrong, only unpruned)
      s.conf.set("spark.graft.twoPhasePrune.maxKeys", "1")
      val open = TwoPhasePruning.prunedScan(s, root, "l_orderkey",
        dim.select(col("k")))
        .join(dim, col("l_orderkey") === dim("k"))
        .select(col("l_orderkey"), col("l_returnflag"), col("cents"))
      open.collect()
      val openNode = scans(open.queryExecution.executedPlan)
        .find(_.toString.contains("graft_io51_tbl"))
      require(openNode.get.metrics("numOutputRows").value ==
          li.filter(col("l_orderkey") < 4 * k).count(),
        "past the cap the fallback must fail OPEN to the full scan")
      require(open.count() == joined.count(),
        "fail-open must not change the join's answer")
      joined.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
          sum(col("cents")).as("sum_cents"))
        .select(col("l_returnflag"), col("n"), col("sum_okey"),
          col("sum_cents"))
        .orderBy(col("l_returnflag"))
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      aqeBcast match {
        case Some(v) =>
          s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          s.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
      s.conf.unset("spark.graft.twoPhasePrune.maxKeys")
    }
  }

  val io51Oracle: String = io46Oracle

  /** BLOOM sidecars for POINT-predicate pruning
    * ([[graft.io.BloomSidecar]]) — the membership complement to the
    * min/max ranges. The table is built ADVERSARIALLY for ranges: each
    * directory holds one l_orderkey RESIDUE class mod 4, so every
    * directory's [min,max] straddles every probe and range pruning
    * keeps all four; the blooms answer per VALUE:
    *
    *  - a planted `WHERE l_orderkey = x` reads ONLY the directory of
    *    x's residue class (skippedDirs=3 pinned; false-positive keeps
    *    are allowed by the contract but the fpp is set so the plant is
    *    deterministic at every sf) — never a wrong skip, the census is
    *    the oracle's;
    *  - an ABSENT key skips every directory (planning answers with
    *    zero IO);
    *  - an IN over two residues keeps exactly their two directories;
    *  - a SQL DELETE (CoW rewrite) CARRIES the bloom discipline: the
    *    rewritten directory gets fresh blooms (pinned by the sidecar
    *    file's existence) and the deleted key's re-probe reads nothing.
    *
    * 100 TB: a point lookup on a high-cardinality un-clustered key is
    * the shape ranges cannot serve at any scale — the bloom bill is
    * ~1.2 MB per directory per column at 1M keys/1% fpp, read once per
    * PLAN, against whole directories of scan saved.
    */
  def io49BloomPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    s.conf.set("spark.sql.catalog.g49", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g49.root", tmpDir(s))
    val root = tmpDir(s) + "/graft_io49_tbl"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    s.conf.set("spark.graft.bloomSidecar.fpp", "0.0001")
    try {
      // ONE partitioned pass writes all four residue batches (the
      // previous loop scanned lineitem once per batch); the four dirs
      // then take their sidecars and commit individually exactly as
      // before — same four versions, same per-dir blooms
      writeBatches(s, root, li, pmod(col("l_orderkey"), lit(4)), 4)
        .foreach { d =>
          graft.io.Landing.sidecars(s, d,
            (Seq("l_orderkey"), Seq("l_orderkey")))
          Manifest.commit(s, root, d)
        }
    } finally s.conf.unset("spark.graft.bloomSidecar.fpp")
    // one probe-derivation pass instead of three
    val pr = li.agg(
      min(when(col("l_orderkey") % 4 === 2, col("l_orderkey"))),
      min(when(col("l_orderkey") % 4 === 1, col("l_orderkey"))),
      max(col("l_orderkey"))).collect()(0)
    val (probe2, probe1, absent) =
      (pr.getLong(0), pr.getLong(1), pr.getLong(2) + 2)
    def skipped(df: DataFrame, n: Int, what: String): DataFrame = {
      df.collect()
      require(df.queryExecution.executedPlan.toString
        .contains(s"skippedDirs=$n"),
        s"$what must skip $n directories:\n" +
          df.queryExecution.executedPlan)
      df
    }
    def census(df: DataFrame, tag: Int) = df
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
      .withColumn("phase", lit(tag))
      .select(col("phase"), col("n"), col("sum_cents"))
    // ranges straddle everything — only the blooms can skip
    val eq = skipped(s.sql(
      s"SELECT * FROM g49.graft_io49_tbl WHERE l_orderkey = $probe2"),
      3, "a planted point lookup")
    val inp = skipped(s.sql(
      s"SELECT * FROM g49.graft_io49_tbl " +
        s"WHERE l_orderkey IN ($probe1, $probe2)"),
      2, "a two-residue IN probe")
    skipped(s.sql(
      s"SELECT * FROM g49.graft_io49_tbl WHERE l_orderkey = $absent"),
      4, "an absent-key probe")
    // a CoW DELETE carries the bloom discipline onto the rewritten dir
    s.sql(s"DELETE FROM g49.graft_io49_tbl WHERE l_orderkey = $probe2")
    val rewritten = Manifest.committed(s, root)
      .filterNot(d => (0 until 4).exists(b => d.endsWith(s"/b$b")))
    require(rewritten.size == 1, s"one rewritten dir, got $rewritten")
    require(graft.io.BloomSidecar
      .read(fsH, rewritten.head).exists(_.contains("l_orderkey")),
      "the DML rewrite must carry the bloom sidecar like min/max")
    val post = s.sql(
      s"SELECT * FROM g49.graft_io49_tbl WHERE l_orderkey = $probe2")
    post.collect()
    require(post.count() == 0, "the deleted key must read zero rows")
    census(eq, 0).unionByName(census(inp, 1))
      .unionByName(census(post, 3))
      .orderBy(col("phase"))
  }

  val io49Oracle: String =
    """WITH li AS (SELECT l_orderkey,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem),
      |p2 AS (SELECT MIN(l_orderkey) AS v FROM li WHERE l_orderkey % 4 = 2),
      |p1 AS (SELECT MIN(l_orderkey) AS v FROM li WHERE l_orderkey % 4 = 1)
      |SELECT 0 AS phase, COUNT(*) AS n,
      |  CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS sum_cents
      |FROM li WHERE l_orderkey = (SELECT v FROM p2)
      |UNION ALL
      |SELECT 1, COUNT(*),
      |  CAST(COALESCE(SUM(cents), 0) AS BIGINT)
      |FROM li WHERE l_orderkey IN ((SELECT v FROM p1), (SELECT v FROM p2))
      |UNION ALL
      |SELECT 3, 0, 0
      |ORDER BY phase""".stripMargin

  /** `ALTER TABLE … RENAME TO` under the oracle gate
    * ([[graft.io.dsv2.GraftCatalog.renameTable]] /
    * [[graft.io.Manifest.renameRoot]]): the rename is ONE filesystem
    * move plus an in-place rewrite of each manifest's own-root-prefixed
    * entries — no data byte moves twice, and the whole ledger survives
    * under the new name. In-gate requires pin exactly that: the old
    * root is gone, both versions answer under the new name, time travel
    * still works, and the CTAS-installed sidecars still PRUNE (the
    * pruning discipline must survive the rename, or every renamed
    * 100 TB table silently reverts to full scans). Fixture and output
    * are io48's shape, so the oracle is io48's text verbatim — a rename
    * may change the NAME, never an answer.
    */
  def io52TableRename(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    s.conf.set("spark.sql.catalog.g52", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g52.root", tmpDir(s))
    val oldRoot = tmpDir(s) + "/graft_io52_tbl"
    val newRoot = tmpDir(s) + "/graft_io52_moved"
    val fs = new org.apache.hadoop.fs.Path(oldRoot)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(oldRoot), true)
    fs.delete(new org.apache.hadoop.fs.Path(newRoot), true)
    val k = okeyUnit(s, dir)
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .filter(col("l_orderkey") < 2 * k)
      .createOrReplaceTempView("io52_src")
    s.sql(s"""CREATE TABLE g52.graft_io52_tbl
      TBLPROPERTIES('statsCols'='l_orderkey')
      AS SELECT * FROM io52_src WHERE l_orderkey < $k""")
    s.sql(s"INSERT INTO g52.graft_io52_tbl " +
      s"SELECT * FROM io52_src WHERE l_orderkey >= $k")
    val tagged = Manifest.versions(s, oldRoot)
    require(tagged == Seq(1, 2), s"fixture expects versions 1,2: $tagged")
    s.sql("ALTER TABLE g52.graft_io52_tbl RENAME TO graft_io52_moved")
    require(!fs.exists(new org.apache.hadoop.fs.Path(oldRoot)),
      "the old root must be gone after RENAME TO")
    require(Manifest.versions(s, newRoot) == Seq(1, 2),
      "the version ledger must survive the rename intact")
    require(scala.util.Try(
        s.sql("SELECT * FROM g52.graft_io52_tbl").collect()).isFailure,
      "the old name must stop resolving after RENAME TO")
    // the CTAS sidecars moved WITH their directories: a selective read
    // under the new name must still prune at planning
    val probe = s.sql(
      s"SELECT * FROM g52.graft_io52_moved WHERE l_orderkey < ${k / 2}")
    probe.collect()
    require(probe.queryExecution.executedPlan.toString
      .contains("skippedDirs=1"),
      "skip-stats pruning must survive the rename:\n" +
        probe.queryExecution.executedPlan)
    val pre = s.sql("SELECT * FROM g52.graft_io52_moved VERSION AS OF 1")
    val post = s.sql("SELECT * FROM g52.graft_io52_moved")
    dmlCensus(pre, 0).unionByName(dmlCensus(post, 1))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  // io48's fixture, io48's phases — the rename must not change a number
  val io52Oracle: String = io48Oracle

  /** `CALL lake.sidecar` — RETROFITTING prunability onto a table
    * ingested before the stats discipline existed, without rewriting a
    * byte: four committed directories with NO sidecars read everything
    * for a point probe; one CALL installs min/max + bloom sidecars
    * beside the data (one aggregation pass per directory — the cheapest
    * possible path to a prunable 100 TB table); the same probe then
    * reads ONE directory. The residue-split fixture makes ranges
    * straddle every directory, so the skips are the BLOOMS' — the
    * io49 discipline, arrived at through maintenance instead of
    * write-time options. A second CALL is a no-op (idempotent).
    */
  def io53SidecarRetrofit(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    s.conf.set("spark.sql.catalog.g53", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g53.root", tmpDir(s))
    val root = tmpDir(s) + "/graft_io53_tbl"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    writeBatches(s, root, li, pmod(col("l_orderkey"), lit(4)), 4)
      .foreach(d => Manifest.commit(s, root, d)) // deliberately NO sidecars
    val probe2 = li.filter(col("l_orderkey") % 4 === 2)
      .agg(min(col("l_orderkey"))).collect()(0).getLong(0)
    def eqProbe(): DataFrame = s.sql(
      s"SELECT * FROM g53.graft_io53_tbl WHERE l_orderkey = $probe2")
    val before = eqProbe()
    before.collect()
    require(before.queryExecution.executedPlan.toString
      .contains("skippedDirs=0"),
      "an un-sidecared table must have nothing to prune on:\n" +
        before.queryExecution.executedPlan)
    s.conf.set("spark.graft.bloomSidecar.fpp", "0.0001")
    val first =
      try s.sql("CALL g53.sidecar('graft_io53_tbl', 'l_orderkey', " +
        "'l_orderkey')").collect()
      finally s.conf.unset("spark.graft.bloomSidecar.fpp")
    require(first.length == 4 && first.forall(r =>
        r.getBoolean(1) && r.getBoolean(2)),
      s"the retrofit must install both sidecars on all 4 dirs: " +
        first.mkString(", "))
    val again = s.sql("CALL g53.sidecar('graft_io53_tbl', " +
      "'l_orderkey', 'l_orderkey')").collect()
    require(again.forall(r => !r.getBoolean(1) && !r.getBoolean(2)),
      "the retrofit must be idempotent — covered dirs untouched")
    val after = eqProbe()
    after.collect()
    require(after.queryExecution.executedPlan.toString
      .contains("skippedDirs=3"),
      "the retrofitted blooms must skip the 3 other-residue dirs:\n" +
        after.queryExecution.executedPlan)
    after.agg(count(lit(1)).as("n"),
      sum(col("cents")).cast("long").as("sum_cents"))
  }

  val io53Oracle: String =
    """WITH li AS (SELECT l_orderkey,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem),
      |p2 AS (SELECT MIN(l_orderkey) AS v FROM li WHERE l_orderkey % 4 = 2)
      |SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM li WHERE l_orderkey = (SELECT v FROM p2)""".stripMargin

  /** Aggregate PUSHDOWN under the oracle gate: `COUNT(*)/MIN/MAX` over
    * a manifest table answers from parquet FOOTERS — zero data rows
    * decoded, a metadata-only census of a 100 TB table
    * ([[graft.io.dsv2.GraftScanBuilder.pushAggregation]] forwarding to
    * Spark's parquet delegate, riding Spark's own
    * `spark.sql.parquet.aggregatePushdown` switch). The in-gate
    * requires pin `pushedAggregate=true` in the executed plan for BOTH
    * phases — including after a copy-on-write DELETE, because the
    * rewrite produces ordinary parquet whose footers are just as
    * answerable (maintenance must never cost the table its metadata
    * shortcuts). A MoR table refuses the shortcut (footers still count
    * deleted rows) — spec-pinned in `Dsv2CatalogSpec`.
    */
  def io54AggPushdown(s: SparkSession, dir: String): DataFrame = {
    val (root, k) = dmlTable(s, dir, "g54", "graft_io54_tbl")
    require(graft.io.Manifest.versions(s, root).nonEmpty)
    val prev = s.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      def census(tag: Int): DataFrame = {
        val q = s.sql("SELECT COUNT(*) AS n, MIN(l_orderkey) AS mn, " +
          "MAX(l_orderkey) AS mx, MIN(cents) AS mnc, MAX(cents) AS mxc " +
          "FROM g54.graft_io54_tbl")
        q.collect()
        require(q.queryExecution.executedPlan.toString
          .contains("pushedAggregate=true"),
          s"phase $tag must answer from parquet footers:\n" +
            q.queryExecution.executedPlan)
        q.withColumn("phase", lit(tag))
          .select(col("phase"), col("n"), col("mn"), col("mx"),
            col("mnc"), col("mxc"))
      }
      val pre = census(0)
      // a CoW DELETE rewrites one directory; its footers answer too
      s.sql("DELETE FROM g54.graft_io54_tbl " +
        s"WHERE l_orderkey >= $k AND l_orderkey < ${k + k / 2}")
      val post = census(1)
      pre.unionByName(post).orderBy(col("phase"))
    } finally s.conf.set("spark.sql.parquet.aggregatePushdown", prev)
  }

  val io54Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |post AS (SELECT * FROM li, mk
      |  WHERE NOT (l_orderkey >= k AND l_orderkey < k + k // 2))
      |SELECT 0 AS phase, COUNT(*) AS n, MIN(l_orderkey) AS mn,
      |  MAX(l_orderkey) AS mx, MIN(cents) AS mnc, MAX(cents) AS mxc
      |FROM li
      |UNION ALL
      |SELECT 1, COUNT(*), MIN(l_orderkey), MAX(l_orderkey),
      |  MIN(cents), MAX(cents) FROM post
      |ORDER BY phase""".stripMargin

  /** LIMIT pushdown under the oracle gate
    * ([[graft.io.dsv2.GraftScanBuilder.pushLimit]]): the sidecars'
    * EXACT per-directory row counts let a `LIMIT n` scan STOP LISTING
    * the table once enough whole directories are banked — a LIMIT-100
    * sample of a 100 TB table plans one directory, not the table.
    * Partial-pushdown semantics keep it safe by construction: Spark's
    * own limit stays on top (over-returning is re-cut), a directory
    * without a readable count banks nothing (fail-open: kept), and
    * tombstoned/row-op scans refuse (their read-time row drops would
    * make banked counts overshoot). The in-gate require pins
    * `limitDirs=3` — three of the four fixture directories were never
    * planned.
    */
  def io55LimitPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    s.conf.set("spark.sql.catalog.g55", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g55.root", tmpDir(s))
    val root = tmpDir(s) + "/graft_io55_tbl"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val hi = okeyUnit(s, dir, frac = 1) // max okey + 1
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    // boundaries b*hi/4 in INTEGER arithmetic — the exact ranges the
    // per-batch loop filtered on (floor(okey*4/hi) would drift at the
    // rounding edges and move boundary keys across buckets)
    writeBatches(s, root, li,
      when(col("l_orderkey") < hi / 4, 0)
        .when(col("l_orderkey") < 2 * hi / 4, 1)
        .when(col("l_orderkey") < 3 * hi / 4, 2)
        .when(col("l_orderkey") < hi, 3).otherwise(-1), 4)
      .foreach { d =>
        graft.io.SkipStats.write(s, d, Seq("l_orderkey"))
        Manifest.commit(s, root, d)
      }
    val q = s.sql("SELECT COUNT(*) AS n FROM " +
      "(SELECT * FROM g55.graft_io55_tbl LIMIT 100) t")
    q.collect()
    require(q.queryExecution.executedPlan.toString.contains("limitDirs=3"),
      "the banked sidecar counts must keep 1 of 4 directories:\n" +
        q.queryExecution.executedPlan)
    q
  }

  val io55Oracle: String =
    "SELECT CAST(LEAST(100, COUNT(*)) AS BIGINT) AS n FROM lineitem"

  /** Top-k PUSHDOWN under the oracle gate
    * ([[graft.io.dsv2.GraftScanBuilder.pushTopN]]): `ORDER BY c
    * LIMIT k` — "the newest 100 events" on a 100 TB time-ordered
    * table — plans ONLY the directories whose sidecar bounds cannot
    * prove they sort after k banked rows. The fixture's four
    * directories hold contiguous key quartiles, so the front
    * directory banks the whole limit and the other three are never
    * planned, in BOTH directions (`topNDirs=3` pinned ascending and
    * descending). The census aggregates the sort key alone — the
    * top-k multiset of key VALUES is deterministic even where row
    * ties at the cut are not. Null semantics (a nulled directory
    * under NULLS FIRST must stay) are spec-pinned in
    * `Dsv2CatalogSpec`.
    */
  def io56TopnPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    s.conf.set("spark.sql.catalog.g56", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g56.root", tmpDir(s))
    val root = tmpDir(s) + "/graft_io56_tbl"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val hi = okeyUnit(s, dir, frac = 1) // max okey + 1
    // skey: a zero-padded string rendering of the key — the
    // ISO-timestamp-string shape ("newest N events" on a string ts
    // column); its bytewise order equals the numeric order, so the
    // string-keyed top-k returns the same key multiset
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        lpad(col("l_orderkey").cast("string"), 10, "0").as("skey"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    writeBatches(s, root, li,
      when(col("l_orderkey") < hi / 4, 0)
        .when(col("l_orderkey") < 2 * hi / 4, 1)
        .when(col("l_orderkey") < 3 * hi / 4, 2)
        .when(col("l_orderkey") < hi, 3).otherwise(-1), 4)
      .foreach { d =>
        graft.io.SkipStats.write(s, d, Seq("l_orderkey", "skey"))
        Manifest.commit(s, root, d)
      }
    def probe(sql: String, tag: Int): DataFrame = {
      val q = s.sql(sql)
      q.collect()
      require(q.queryExecution.executedPlan.toString
        .contains("topNDirs=3"),
        s"phase $tag must plan 1 of 4 directories:\n" +
          q.queryExecution.executedPlan)
      q.agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("mn"),
        max(col("l_orderkey")).as("mx"),
        sum(col("l_orderkey")).cast("long").as("sum_okey"))
        .withColumn("phase", lit(tag))
        .select(col("phase"), col("n"), col("mn"), col("mx"),
          col("sum_okey"))
    }
    val up = probe("SELECT l_orderkey FROM g56.graft_io56_tbl " +
      "ORDER BY l_orderkey LIMIT 100", 0)
    val down = probe("SELECT l_orderkey FROM g56.graft_io56_tbl " +
      "ORDER BY l_orderkey DESC LIMIT 100", 1)
    // phases 2/3: the STRING-keyed certificate, both directions
    val upS = probe("SELECT l_orderkey FROM g56.graft_io56_tbl " +
      "ORDER BY skey LIMIT 100", 2)
    val downS = probe("SELECT l_orderkey FROM g56.graft_io56_tbl " +
      "ORDER BY skey DESC LIMIT 100", 3)
    up.unionByName(down).unionByName(upS).unionByName(downS)
      .orderBy(col("phase"))
  }

  val io56Oracle: String =
    """WITH a AS (SELECT l_orderkey FROM lineitem
      |  ORDER BY l_orderkey LIMIT 100),
      |d AS (SELECT l_orderkey FROM lineitem
      |  ORDER BY l_orderkey DESC LIMIT 100),
      |sa AS (SELECT l_orderkey FROM lineitem
      |  ORDER BY lpad(CAST(l_orderkey AS VARCHAR), 10, '0') LIMIT 100),
      |sd AS (SELECT l_orderkey FROM lineitem
      |  ORDER BY lpad(CAST(l_orderkey AS VARCHAR), 10, '0') DESC
      |  LIMIT 100)
      |SELECT 0 AS phase, COUNT(*) AS n, MIN(l_orderkey) AS mn,
      |  MAX(l_orderkey) AS mx, CAST(SUM(l_orderkey) AS BIGINT)
      |    AS sum_okey FROM a
      |UNION ALL
      |SELECT 1, COUNT(*), MIN(l_orderkey), MAX(l_orderkey),
      |  CAST(SUM(l_orderkey) AS BIGINT) FROM d
      |UNION ALL
      |SELECT 2, COUNT(*), MIN(l_orderkey), MAX(l_orderkey),
      |  CAST(SUM(l_orderkey) AS BIGINT) FROM sa
      |UNION ALL
      |SELECT 3, COUNT(*), MIN(l_orderkey), MAX(l_orderkey),
      |  CAST(SUM(l_orderkey) AS BIGINT) FROM sd
      |ORDER BY phase""".stripMargin

  /** `CALL lake.cluster` — sorted RE-CLUSTERING under the oracle gate
    * (`OPTIMIZE … SORT BY` as one CALL): an append-order table whose
    * two directories' key ranges fully straddle each other (parity
    * split — nothing prunable, a point probe reads everything)
    * rewrites range-partitioned + sorted into four directories with
    * fresh sidecars as ONE replacing commit. After it the same point
    * probe reads ONE directory (`skippedDirs=3` pinned — disjoint
    * ranges decide point probes with no blooms needed), the
    * pre-cluster version still time-travels, and the gate's output is
    * the SAME census through the clustered head and the time-traveled
    * original — re-clustering is layout-only, it must never change an
    * answer.
    */
  def io57SqlCluster(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    s.conf.set("spark.sql.catalog.g57", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g57.root", tmpDir(s))
    val root = tmpDir(s) + "/graft_io57_tbl"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val k = okeyUnit(s, dir)
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .filter(col("l_orderkey") < 2 * k)
    for (b <- 0 until 2) {
      val d = s"$root/data/b$b"
      li.filter(col("l_orderkey") % 2 === b).write.parquet(d)
      Manifest.commit(s, root, d) // append order: nothing prunable
    }
    val probeKey = li.filter(col("l_orderkey") % 2 === 1)
      .agg(min(col("l_orderkey"))).collect()(0).getLong(0)
    def eqProbe(): DataFrame = s.sql(
      s"SELECT * FROM g57.graft_io57_tbl WHERE l_orderkey = $probeKey")
    val before = eqProbe()
    before.collect()
    require(before.queryExecution.executedPlan.toString
      .contains("skippedDirs=0"),
      "the parity layout must have nothing to prune on:\n" +
        before.queryExecution.executedPlan)
    val res = s.sql(
      "CALL g57.cluster('graft_io57_tbl', 'l_orderkey', 4)").collect()
    require(res.length == 4 && res.map(_.getLong(1)).sum ==
        li.count(),
      s"4 bucket dirs carrying every row, got ${res.mkString(", ")}")
    require(Manifest.versions(s, root) == Seq(1, 2, 3),
      "the re-cluster must be ONE replacing commit")
    val after = eqProbe()
    after.collect()
    require(after.queryExecution.executedPlan.toString
      .contains("skippedDirs=3"),
      "disjoint clustered ranges must decide the point probe:\n" +
        after.queryExecution.executedPlan)
    val head = s.sql("SELECT * FROM g57.graft_io57_tbl")
    val pre = s.sql("SELECT * FROM g57.graft_io57_tbl VERSION AS OF 2")
    dmlCensus(pre, 0).unionByName(dmlCensus(head, 1))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io57Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |c AS (SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM li GROUP BY 1)
      |SELECT 0 AS phase, l_returnflag, n, sum_okey, sum_cents FROM c
      |UNION ALL
      |SELECT 1, l_returnflag, n, sum_okey, sum_cents FROM c
      |ORDER BY phase, l_returnflag""".stripMargin

  /** SQL `TRUNCATE TABLE` under the oracle gate
    * ([[graft.io.dsv2.GraftTable.truncateTable]]): ONE empty replacing
    * commit — no file deleted, so the pre-truncate version still
    * time-travels (phase 0 reads it AFTER the truncate), the truncated
    * head reads zero rows at full schema, and an INSERT appends from
    * the truncated head (the periodic re-ingest pattern: truncate,
    * reload, history intact). The oracle replays both phases from
    * lineitem.
    */
  def io58SqlTruncate(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val (root, k) = dmlTable(s, dir, "g58", "graft_io58_tbl")
    s.sql("TRUNCATE TABLE g58.graft_io58_tbl")
    require(Manifest.versions(s, root) == Seq(1, 2, 3),
      "TRUNCATE must be exactly one replacing commit, got " +
        Manifest.versions(s, root))
    val emptied = s.sql("SELECT * FROM g58.graft_io58_tbl")
    require(emptied.count() == 0, "the truncated head must read empty")
    require(emptied.schema.fieldNames.toSeq ==
      Seq("l_orderkey", "l_returnflag", "cents"),
      "the truncated head must keep the full schema")
    // the pre-truncate version answers AFTER the truncate — no file
    // was deleted, the ledger grew
    val pre = s.sql("SELECT * FROM g58.graft_io58_tbl VERSION AS OF 2")
    // re-ingest: INSERT appends from the truncated head (version 4)
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .filter(col("l_orderkey") < k)
      .createOrReplaceTempView("io58_src")
    s.sql("INSERT INTO g58.graft_io58_tbl SELECT * FROM io58_src")
    val post = s.sql("SELECT * FROM g58.graft_io58_tbl")
    dmlCensus(pre, 0).unionByName(dmlCensus(post, 1))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io58Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |snap AS (
      |  SELECT 0 AS phase, l_orderkey, l_returnflag, cents FROM li
      |  UNION ALL
      |  SELECT 1, l_orderkey, l_returnflag, cents FROM li
      |  WHERE l_orderkey < (SELECT k FROM mk))
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** STATS-IN-MANIFEST O(1) planning under the oracle gate
    * ([[graft.io.Manifest.DirAnnotations]] +
    * [[graft.io.DirStatsProvider]]): a 256-directory table — the scale
    * shape where per-directory sidecar reads become minutes of
    * driver-side planning on a real store — plans static range
    * pruning, LIMIT truncation, and TopN certificates from the ONE
    * manifest read the resolve already does. In-gate counters (the
    * test seams on [[graft.io.SkipStats]]/[[graft.io.Manifest]]/
    * [[graft.io.dsv2.GraftTable]]) pin ZERO sidecar opens and ZERO
    * per-directory footer probes across all four probes, with plan
    * pins (`skippedDirs`/`limitDirs`/`topNDirs`) computed from the
    * per-bucket counts so the IO-free plans are also the RIGHT plans.
    * The fixture itself is scale-shaped: one partitioned write job
    * lands all buckets, one grouped aggregation computes every
    * bucket's stats, `SkipStats.install` writes 256 sidecars with no
    * further Spark jobs, and ONE manifest commit embeds them all.
    */
  def io59ManifestStats(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{GraftPar, Manifest, SkipStats}
    s.conf.set("spark.sql.catalog.g59", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g59.root", tmpDir(s))
    val root = tmpDir(s) + "/graft_io59_tbl"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val hi = okeyUnit(s, dir, frac = 1) // max okey + 1
    val nb = 256L
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    val stage = s"$root/data/ingest"
    // repartition by the partition value first: the bare dynamic-
    // partition write runs at the SCAN's parallelism (1–2 tasks for
    // one parquet input), each task interleaving writers across all
    // 256 values — one ~6 s job. Hashed on pb, 32 reducers write ~8
    // directories each in parallel, one file per directory.
    li.withColumn("pb", format_string("%03d",
        (col("l_orderkey") * nb / hi).cast("int")))
      .repartition(col("pb"))
      .write.partitionBy("pb").parquet(stage)
    val bucketStats = li
      .groupBy((col("l_orderkey") * nb / hi).cast("int").as("pb"))
      .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("mn"),
        max(col("l_orderkey")).as("mx"))
      .collect().sortBy(_.getInt(0))
    // the 256 sidecar installs are independent one-file driver IOs —
    // write them concurrently instead of serially (the serial loop was
    // a measurable slice of this gate's driver gap)
    val dirBodies = GraftPar.all(bucketStats.toSeq.map { r => () =>
      val d = f"$stage/pb=${r.getInt(0)}%03d"
      val body = SkipStats.render(r.getLong(1),
        Seq("l_orderkey" -> SkipStats.ColStats("long",
          Some((r.getLong(2).toString, r.getLong(3).toString)))),
        Map("l_orderkey" -> r.getLong(1)))
      SkipStats.installRendered(s, d, body)
      (d, body)
    })
    val dirs = dirBodies.map(_._1)
    val n = dirs.size
    require(n >= 64, s"fixture needs many buckets, got $n")
    // SEED the commit's annotations (stats body, no-bloom coverage,
    // ONE shared footer-probed schema) so the rewrite does zero
    // per-directory probes — without seeds the commit itself pays
    // 3×256 sequential driver IOs re-reading what this fixture just
    // wrote, and the gate's wall measures the fixture, not the plans
    val schemaJson = Manifest.inferDirSchema(s, dirs.head).map(_.json)
    val seed: Map[(String, String), String] = dirBodies.flatMap {
      case (d, body) =>
        Seq(Manifest.seedStats(d, body),
          Manifest.seedBloom(d, Seq.empty)) ++
          schemaJson.map(j => Manifest.seedSchema(d, j)).toSeq
    }.toMap
    Manifest.rewrite(s, root, dirs, seedAnn = seed)
    // expected planned prefixes from the banked counts (manifest order
    // = ascending key ranges): LIMIT 60 and top-100 in each direction
    val counts = bucketStats.map(_.getLong(1))
    def prefixCovering(cs: Seq[Long], k: Long): Int =
      cs.scanLeft(0L)(_ + _).tail.indexWhere(_ >= k) + 1
    val mLimit = prefixCovering(counts.toSeq, 60L)
    val mAsc = prefixCovering(counts.toSeq, 100L)
    val mDesc = prefixCovering(counts.reverse.toSeq, 100L)
    // instrument planning IO: zero sidecar opens, zero footer probes,
    // O(1) manifest reads per plan
    var sidecarOpens = 0
    var manifestReads = 0
    var schemaProbes = 0
    SkipStats.onSidecarOpen = _ => sidecarOpens += 1
    Manifest.onManifestRead = _ => manifestReads += 1
    graft.io.dsv2.GraftTable.onSchemaProbe = _ => schemaProbes += 1
    try {
      def probe(sql: String, pin: String, tag: Int): DataFrame = {
        sidecarOpens = 0; manifestReads = 0; schemaProbes = 0
        val q = s.sql(sql)
        q.collect()
        require(q.queryExecution.executedPlan.toString.contains(pin),
          s"phase $tag must plan '$pin':\n" +
            q.queryExecution.executedPlan)
        require(sidecarOpens == 0,
          s"phase $tag planned with $sidecarOpens sidecar opens — the " +
            "manifest annotations must serve every directory fact")
        require(schemaProbes == 0,
          s"phase $tag resolved with $schemaProbes per-directory " +
            "footer probes — the manifest schema annotations must serve")
        require(manifestReads <= 8,
          s"phase $tag read the manifest $manifestReads times — " +
            "planning must be O(1) metadata reads, not O(directories)")
        q
      }
      // phase 0: static range pruning to exactly bucket 100's key range
      val p0 = probe("SELECT l_orderkey FROM g59.graft_io59_tbl WHERE " +
        s"l_orderkey BETWEEN ${(100 * hi + nb - 1) / nb} AND " +
        s"${(101 * hi + nb - 1) / nb - 1}",
        s"skippedDirs=${n - 1}", 0)
        .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("mn"),
          max(col("l_orderkey")).as("mx"),
          sum(col("l_orderkey")).cast("long").as("sum_okey"))
        .withColumn("phase", lit(0))
      // phase 1: LIMIT truncation (prefix rows are arbitrary — only
      // the count is deterministic; -1 marks the non-facts)
      val p1 = probe("SELECT * FROM " +
        "(SELECT l_orderkey FROM g59.graft_io59_tbl LIMIT 60) t",
        s"limitDirs=${n - mLimit}", 1)
        .agg(count(lit(1)).as("n"))
        .select(col("n"), lit(-1L).as("mn"), lit(-1L).as("mx"),
          lit(-1L).as("sum_okey"))
        .withColumn("phase", lit(1))
      // phases 2/3: TopN certificates, both sort directions
      val p2 = probe("SELECT l_orderkey FROM g59.graft_io59_tbl " +
        "ORDER BY l_orderkey LIMIT 100", s"topNDirs=${n - mAsc}", 2)
        .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("mn"),
          max(col("l_orderkey")).as("mx"),
          sum(col("l_orderkey")).cast("long").as("sum_okey"))
        .withColumn("phase", lit(2))
      val p3 = probe("SELECT l_orderkey FROM g59.graft_io59_tbl " +
        "ORDER BY l_orderkey DESC LIMIT 100", s"topNDirs=${n - mDesc}", 3)
        .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("mn"),
          max(col("l_orderkey")).as("mx"),
          sum(col("l_orderkey")).cast("long").as("sum_okey"))
        .withColumn("phase", lit(3))
      p0.unionByName(p1).unionByName(p2).unionByName(p3)
        .select(col("phase"), col("n"), col("mn"), col("mx"),
          col("sum_okey"))
        .orderBy(col("phase"))
    } finally {
      SkipStats.onSidecarOpen = _ => ()
      Manifest.onManifestRead = _ => ()
      graft.io.dsv2.GraftTable.onSchemaProbe = _ => ()
    }
  }

  val io59Oracle: String =
    """WITH mx AS (SELECT MAX(l_orderkey) + 1 AS m FROM lineitem),
      |b100 AS (SELECT l_orderkey FROM lineitem, mx
      |  WHERE l_orderkey BETWEEN (100 * m + 255) // 256
      |    AND (101 * m + 255) // 256 - 1),
      |a AS (SELECT l_orderkey FROM lineitem
      |  ORDER BY l_orderkey LIMIT 100),
      |d AS (SELECT l_orderkey FROM lineitem
      |  ORDER BY l_orderkey DESC LIMIT 100)
      |SELECT 0 AS phase, COUNT(*) AS n, MIN(l_orderkey) AS mn,
      |  MAX(l_orderkey) AS mx,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey FROM b100
      |UNION ALL
      |SELECT 1, CAST(LEAST(60, COUNT(*)) AS BIGINT), -1, -1, -1
      |FROM lineitem
      |UNION ALL
      |SELECT 2, COUNT(*), MIN(l_orderkey), MAX(l_orderkey),
      |  CAST(SUM(l_orderkey) AS BIGINT) FROM a
      |UNION ALL
      |SELECT 3, COUNT(*), MIN(l_orderkey), MAX(l_orderkey),
      |  CAST(SUM(l_orderkey) AS BIGINT) FROM d
      |ORDER BY phase""".stripMargin

  /** `CALL lake.rollback` under the oracle gate
    * ([[graft.io.Manifest.rollbackTo]]): the incident-runbook verb —
    * republish version N's directory list as a NEW replacing commit
    * (Delta `RESTORE TABLE … TO VERSION AS OF`). The gate deletes a
    * key range via CoW DML, rolls back over the delete, and pins the
    * three claims that make it a rollback and not a reset: history is
    * INTACT (versions 1–4 all live, the rolled-over delete still
    * time-travels as phase 1), the restored head answers exactly like
    * `VERSION AS OF 2` (phase 0), and a post-rollback INSERT appends
    * on the restored head (phase 2). Tombstone-newer-than-N refusal is
    * spec-pinned in `Dsv2CatalogSpec`.
    */
  def io60SqlRollback(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val (root, k) = dmlTable(s, dir, "g60", "graft_io60_tbl")
    s.sql(s"DELETE FROM g60.graft_io60_tbl WHERE l_orderkey < ${k / 2}")
    require(Manifest.versions(s, root) == Seq(1, 2, 3),
      "the CoW delete must commit one replacing version")
    val res = s.sql("CALL g60.rollback('graft_io60_tbl', 2)").collect()
    require(res.length == 1 && res(0).getInt(0) == 2 &&
      res(0).getInt(1) == 4,
      s"rollback must restore v2 as v4, got ${res.mkString(", ")}")
    require(Manifest.versions(s, root) == Seq(1, 2, 3, 4),
      "rollback must ADD a version — history stays intact")
    val head = s.sql("SELECT * FROM g60.graft_io60_tbl")
    val overRolled = s.sql(
      "SELECT * FROM g60.graft_io60_tbl VERSION AS OF 3")
    // post-rollback INSERT appends on the restored head
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .filter(col("l_orderkey") >= 2 * k && col("l_orderkey") < 3 * k)
      .createOrReplaceTempView("io60_src")
    s.sql("INSERT INTO g60.graft_io60_tbl SELECT * FROM io60_src")
    require(Manifest.versions(s, root) == Seq(1, 2, 3, 4, 5),
      "the INSERT must append as version 5")
    val post = s.sql("SELECT * FROM g60.graft_io60_tbl")
    dmlCensus(head, 0).unionByName(dmlCensus(overRolled, 1))
      .unionByName(dmlCensus(post, 2))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io60Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |snap AS (
      |  SELECT 0 AS phase, l_orderkey, l_returnflag, cents FROM li
      |  UNION ALL
      |  SELECT 1, l_orderkey, l_returnflag, cents FROM li, mk
      |  WHERE l_orderkey >= k // 2
      |  UNION ALL
      |  SELECT 2, l_orderkey, l_returnflag, cents FROM li
      |  UNION ALL
      |  SELECT 2, l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |  FROM lineitem, mk
      |  WHERE l_orderkey >= 2 * k AND l_orderkey < 3 * k)
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** `ALTER TABLE DROP COLUMN` under the oracle gate
    * ([[graft.io.ColumnMapping.dropColumn]]): the third side of
    * zero-rewrite schema evolution (rename io50, add io47) — dropping
    * a column on a 100 TB table is ONE metadata commit marking the
    * PHYSICAL column with an empty logical name; reads project it
    * away, time travel reads its era's schema (phase 0 reads the
    * dropped column AFTER the drop), and re-ADDING the same name maps
    * to a FRESH physical name so the old values are never resurrected
    * (old rows read the re-added column as NULL — phase 2's sum counts
    * only the post-re-add INSERT). In-gate requires pin the
    * metadata-only claims: the same data directory in every version,
    * the physical parquet schema still carrying the original column
    * with its values, and the fresh-physical mapping. Refusal edges
    * (merge key, property-pinned, tombstoned) are spec-pinned in
    * `Dsv2CatalogSpec`.
    */
  def io61SqlDropColumn(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{ColumnMapping, Manifest}
    s.conf.set("spark.sql.catalog.g61", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g61.root", tmpDir(s))
    val root = tmpDir(s) + "/graft_io61_tbl"
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fsH = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(rootP, true)
    val d0 = s"$root/data/b0"
    val src = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"), col("event_type"))
    src.write.parquet(d0)
    Manifest.commit(s, root, d0)
    s.sql("ALTER TABLE g61.graft_io61_tbl DROP COLUMN cents")
    require(Manifest.versions(s, root) == Seq(1, 2),
      "the drop must be ONE metadata commit")
    require(Manifest.entries(s, root)
        .filterNot(ColumnMapping.isMapping) == Seq(d0),
      "the drop must not move a data directory")
    require(s.read.parquet(d0).schema.fieldNames.contains("cents"),
      "physical parquet must keep the dropped column untouched")
    val dropped = s.sql("SELECT * FROM g61.graft_io61_tbl")
    require(dropped.schema.fieldNames.toSeq ==
      Seq("event_id", "user_id", "event_type"),
      s"the head must hide the dropped column, got ${dropped.schema}")
    // phase 0: time travel still reads the dropped column's era
    val phase0 = s.sql("SELECT event_type, user_id, cents " +
      "FROM g61.graft_io61_tbl VERSION AS OF 1")
    require(phase0.schema.fieldNames.contains("cents"))
    // re-ADD the same name: a FRESH physical column, mapped
    s.sql("ALTER TABLE g61.graft_io61_tbl ADD COLUMN cents BIGINT")
    val m = ColumnMapping.mapping(s, root)
    require(m.get("cents").contains("") &&
      m.exists { case (p, l) => l == "cents" && p != "cents" },
      s"re-add must mint a fresh mapped physical name, got $m")
    require(Manifest.entries(s, root)
        .filterNot(ColumnMapping.isMapping).contains(d0),
      "the re-add must carry the original data directory")
    // old rows read the re-added column as NULL; an INSERT fills it
    src.createOrReplaceTempView("io61_src")
    s.sql("INSERT INTO g61.graft_io61_tbl " +
      "SELECT event_id, user_id, event_type, cents FROM io61_src")
    val fin = s.sql("SELECT * FROM g61.graft_io61_tbl")
    require(fin.schema.fieldNames.toSeq ==
      Seq("event_id", "user_id", "event_type", "cents"))
    def census(df: DataFrame, tag: Int) = df
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"),
        sum(col("cents")).cast("long").as("sum_cents"))
      .withColumn("phase", lit(tag))
      .select(col("phase"), col("event_type"), col("n"),
        col("sum_uid"), col("sum_cents"))
    val p0 = census(phase0.select(col("event_type"), col("user_id"),
      col("cents")), 0)
    val p1 = dropped.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"))
      .withColumn("sum_cents", lit(-1L)).withColumn("phase", lit(1))
      .select(col("phase"), col("event_type"), col("n"),
        col("sum_uid"), col("sum_cents"))
    // phase 2: nulls on pre-drop rows — the sum covers ONLY the
    // inserted rows, proving the old values were not resurrected
    val p2 = census(fin, 2)
    p0.unionByName(p1).unionByName(p2)
      .orderBy(col("phase"), col("event_type"))
  }

  val io61Oracle: String =
    """WITH e AS (SELECT event_id, user_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    event_type FROM events),
      |c AS (SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(user_id) AS BIGINT) AS sum_uid,
      |    CAST(SUM(cents) AS BIGINT) AS sum_cents
      |  FROM e GROUP BY 1)
      |SELECT 0 AS phase, event_type, n, sum_uid, sum_cents FROM c
      |UNION ALL
      |SELECT 1, event_type, n, sum_uid, -1 FROM c
      |UNION ALL
      |SELECT 2, event_type, 2 * n, 2 * sum_uid, sum_cents FROM c
      |ORDER BY phase, event_type""".stripMargin

  /** `CREATE TABLE … PARTITIONED BY` under the oracle gate
    * ([[graft.io.dsv2.GraftPartitionedWrite]]): identity partitioning
    * through the SQL catalog — a partitioned CTAS lands ONE COMMITTED
    * DIRECTORY PER PARTITION VALUE (one manifest version), every later
    * INSERT honors the recorded spec (three more leaves, again one
    * version), and an equality filter on the partition column prunes
    * whole directories AT PLANNING via their constant-bound sidecars
    * (`skippedDirs` pinned — the manifest-native form of io11's
    * listing-level pruning, through plain SQL DDL). Partition
    * evolution still works: `CALL lake.cluster` re-layouts the same
    * rows into key-range buckets, and the census through the clustered
    * head is identical to the pre-cluster version — layout only.
    */
  def io62SqlPartitioned(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    s.conf.set("spark.sql.catalog.g62", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g62.root", tmpDir(s))
    val root = tmpDir(s) + "/graft_io62_tbl"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val k = okeyUnit(s, dir)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    batch(0, k).createOrReplaceTempView("io62_src")
    // bloomCols on a partitioned table exercises the ONE-JOB grouped
    // bloom build (SidecarBloomAgg keyed on the leaf directory) — the
    // per-leaf `df.stat.bloomFilter` loop this gate's job-count spec
    // killed; fpp is pinned low so the point probe below prunes
    // deterministically on any SF's data
    val prevFpp = s.conf.getOption("spark.graft.bloomSidecar.fpp")
    s.conf.set("spark.graft.bloomSidecar.fpp", "0.0001")
    // try/finally: a mid-gate require failure must not leak the
    // pinned fpp into every later gate and bench query of the session
    val probed = try {
    s.sql("CREATE TABLE g62.graft_io62_tbl PARTITIONED BY " +
      "(l_returnflag) TBLPROPERTIES('statsCols'='l_orderkey'," +
      "'bloomCols'='l_orderkey') " +
      "AS SELECT * FROM io62_src")
    require(Manifest.versions(s, root) == Seq(1),
      "partitioned CTAS must land as ONE version")
    val leaves1 = Manifest.committed(s, root)
    require(leaves1.size == 3 && leaves1.forall(_.contains("=")),
      s"one committed leaf per l_returnflag value, got $leaves1")
    def probe(expectSkipped: Int): DataFrame = {
      val q = s.sql("SELECT * FROM g62.graft_io62_tbl " +
        "WHERE l_returnflag = 'R'")
      q.collect()
      require(q.queryExecution.executedPlan.toString
        .contains(s"skippedDirs=$expectSkipped"),
        s"the partition filter must prune at planning " +
          s"(want skippedDirs=$expectSkipped):\n" +
          q.queryExecution.executedPlan)
      q
    }
    probe(2)
    batch(k, 2 * k).createOrReplaceTempView("io62_src2")
    s.sql("INSERT INTO g62.graft_io62_tbl SELECT * FROM io62_src2")
    require(Manifest.versions(s, root) == Seq(1, 2),
      "the INSERT's leaves must commit as ONE version")
    require(Manifest.committed(s, root).size == 6,
      "three more partition leaves after the INSERT")
    val probed0 = probe(4)
    // BLOOM-pruned POINT probe: a key living in exactly ONE returnflag
    // of the first batch. Range stats prune the second batch's 3
    // leaves (disjoint key ranges) but CANNOT separate the first
    // batch's 3 flag-leaves (each spans nearly the whole batch range)
    // — only the leaf blooms can drop the 2 flag-leaves the key never
    // touches, so skippedDirs > 3 is proof the one-job-built blooms
    // prune (>= 5 exact; >= 4 tolerates one sub-1e-4 false positive)
    val key0 = batch(0, k).groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_returnflag")).as("nf"))
      .filter(col("nf") === 1).agg(min(col("l_orderkey")))
      .collect()(0).getLong(0)
    val bq = s.sql("SELECT * FROM g62.graft_io62_tbl " +
      s"WHERE l_orderkey = $key0")
    require(bq.count() >= 1, s"probe key $key0 must exist")
    val skipped = "skippedDirs=(\\d+)".r
      .findFirstMatchIn(bq.queryExecution.executedPlan.toString)
      .map(_.group(1).toInt).getOrElse(-1)
    require(skipped >= 4,
      s"the point probe must prune past the range stats via the " +
        s"grouped-built blooms (want skippedDirs>=4 of 6, got " +
        s"$skipped):\n" + bq.queryExecution.executedPlan)
    probed0
    } finally prevFpp match {
      case Some(v) => s.conf.set("spark.graft.bloomSidecar.fpp", v)
      case None => s.conf.unset("spark.graft.bloomSidecar.fpp")
    }
    val head = s.sql("SELECT * FROM g62.graft_io62_tbl")
    val p0 = dmlCensus(head, 0)
    val p1 = dmlCensus(probed, 1)
    // partition evolution: re-cluster by key range; answer identical
    s.sql("CALL g62.cluster('graft_io62_tbl', 'l_orderkey', 4)")
      .collect()
    val p2 = dmlCensus(s.sql("SELECT * FROM g62.graft_io62_tbl"), 2)
    p0.unionByName(p1).unionByName(p2)
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io62Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |c AS (SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |    CAST(SUM(cents) AS BIGINT) AS sum_cents
      |  FROM li GROUP BY 1),
      |p AS (SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |    CAST(SUM(cents) AS BIGINT) AS sum_cents
      |  FROM li WHERE l_returnflag = 'R' GROUP BY 1)
      |SELECT 0 AS phase, l_returnflag, n, sum_okey, sum_cents FROM c
      |UNION ALL
      |SELECT 1, l_returnflag, n, sum_okey, sum_cents FROM p
      |UNION ALL
      |SELECT 2, l_returnflag, n, sum_okey, sum_cents FROM c
      |ORDER BY phase, l_returnflag""".stripMargin

  /** MERGE-ON-READ UPDATE under the oracle gate
    * ([[graft.io.dsv2.GraftDeltaUpdate]] — the deletion-vector-shaped
    * write-cheap update, io63): on a table with a recorded merge key,
    * `UPDATE` commits ONE appending version holding an epoch-scoped
    * tombstone of the matched keys plus a `morins-<epoch>` directory
    * of the rewritten rows — the original data directories are
    * UNTOUCHED (pinned in-gate), write IO ∝ the correction, and the
    * epoch scoping makes the pair readable: the tombstone hides the
    * keys' rows only in LOWER-epoch directories, so the update's own
    * re-inserts survive. A second overlapping update proves the epoch
    * chain (its tombstone hides the first update's rows); `CALL
    * lake.fold` ends the deferral with an answer-identical rewrite;
    * the pre-fold version still time-travels. Phases 0/3 and 1/2 are
    * the same censuses through different read paths — scoped-merge vs
    * folded, head vs time travel.
    */
  def io63MorUpdate(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Manifest, MergeOnRead}
    val (root, k) = dmlTable(s, dir, "g63", "graft_io63_tbl")
    s.sql("CALL g63.set_mor_key('graft_io63_tbl', 'l_orderkey')")
    s.sql("UPDATE g63.graft_io63_tbl SET cents = cents + 1000 " +
      s"WHERE l_orderkey < ${k / 2}")
    require(Manifest.versions(s, root) == Seq(1, 2, 3),
      "the MoR update must be ONE appending version, got " +
        Manifest.versions(s, root))
    val e3 = Manifest.entries(s, root)
    require(Set(s"$root/data/b1", s"$root/data/b2").subsetOf(e3.toSet),
      s"the original data directories must be untouched: $e3")
    require(e3.count(MergeOnRead.isTombstone) == 1 &&
      e3.exists(d => MergeOnRead.dirEpoch(d) > 0),
      s"one scoped tombstone + one morins directory expected: $e3")
    val p0 = dmlCensus(s.sql("SELECT * FROM g63.graft_io63_tbl"), 0)
    // second, OVERLAPPING update: its higher epoch hides the first
    // update's rewritten rows for the re-matched keys
    s.sql("UPDATE g63.graft_io63_tbl SET cents = cents + 1000 " +
      s"WHERE l_orderkey < ${k / 4}")
    require(Manifest.versions(s, root) == Seq(1, 2, 3, 4))
    // staged: consumed THREE times (both directions of the past-cap
    // equality require below, then the final union), and every
    // evaluation re-ran the full MoR merge incl. its broadcast build —
    // one materialization of 3 rows instead
    val p1 = dmlCensus(s.sql("SELECT * FROM g63.graft_io63_tbl"), 1)
      .staged()
    // ── past-cap regime (the 10⁸-key takedown shape at 100 TB): with
    // the key-collect cap lowered under the accumulated tombstone
    // rows, the scan must NOT driver-collect — the planner strategy
    // re-plans it as the epoch-merging distributed anti-join
    // (graft.plans.MorAntiJoinStrategy), and the census must not move
    val prevCap = s.conf.getOption("spark.graft.mor.maxBroadcastKeys")
    s.conf.set("spark.graft.mor.maxBroadcastKeys", "1")
    try {
      val oc = s.sql("SELECT * FROM g63.graft_io63_tbl")
      val ocPlan = oc.queryExecution.executedPlan.toString
      require(!ocPlan.contains("GraftScan"),
        "the past-cap read must plan as the distributed anti-join, " +
          "never the key-collecting reader filter:\n" + ocPlan)
      // staged for the same reason: the two except directions would
      // each re-run the shuffled anti-join census
      val pc = dmlCensus(oc, 1).staged()
      require(pc.except(p1).isEmpty && p1.except(pc).isEmpty,
        "the past-cap anti-join census must match the reader-filter " +
          "regime's")
    } finally prevCap match {
      case Some(v) => s.conf.set("spark.graft.mor.maxBroadcastKeys", v)
      case None => s.conf.unset("spark.graft.mor.maxBroadcastKeys")
    }
    // fold ends the deferral — the answer must not move
    s.sql("CALL g63.fold('graft_io63_tbl', 'l_orderkey')").collect()
    require(!Manifest.entries(s, root).exists(MergeOnRead.isTombstone),
      "fold must retire every tombstone")
    val p2 = dmlCensus(s.sql("SELECT * FROM g63.graft_io63_tbl"), 2)
    // the pre-fold, one-update state still time-travels (scoped merge
    // through an OLD version)
    val p3 = dmlCensus(s.sql(
      "SELECT * FROM g63.graft_io63_tbl VERSION AS OF 3"), 3)
    p0.unionByName(p1).unionByName(p2).unionByName(p3)
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io63Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |u1 AS (SELECT l_orderkey, l_returnflag,
      |    cents + CASE WHEN l_orderkey < k // 2 THEN 1000 ELSE 0 END
      |      AS cents FROM li, mk),
      |u2 AS (SELECT l_orderkey, l_returnflag,
      |    cents + CASE WHEN l_orderkey < k // 4 THEN 1000 ELSE 0 END
      |      AS cents FROM u1, mk),
      |snap AS (
      |  SELECT 0 AS phase, l_returnflag, cents, l_orderkey FROM u1
      |  UNION ALL SELECT 1, l_returnflag, cents, l_orderkey FROM u2
      |  UNION ALL SELECT 2, l_returnflag, cents, l_orderkey FROM u2
      |  UNION ALL SELECT 3, l_returnflag, cents, l_orderkey FROM u1)
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** FULL conditional MERGE under the oracle gate (io64 — the
    * Delta/Iceberg MERGE surface a real user types within a week):
    * one statement mixing `WHEN MATCHED AND <cond> THEN UPDATE SET …`,
    * an unconditional `WHEN MATCHED THEN DELETE` (first-match-wins
    * ordering), a conditional `WHEN NOT MATCHED THEN INSERT *`, and
    * `WHEN NOT MATCHED BY SOURCE AND <cond> THEN UPDATE` — all planned
    * through Spark 4's native `RewriteMergeIntoTable` over this
    * engine's group-based row-level op ([[graft.io.dsv2
    * .GraftGroupRewrite]]), committed as ONE replacing version with
    * time travel intact. The oracle replays the clause semantics as a
    * CTE (DuckDB-side MERGE equivalence), and the duplicate-source-key
    * cardinality refusal is pinned in `Dsv2CatalogSpec`.
    */
  def io64MergeClauses(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val (root, k) = dmlTable(s, dir, "g64", "graft_io64_tbl")
    val keys = Tables.lineitem(s, dir).select(col("l_orderkey")).distinct()
    keys.filter(col("l_orderkey").between(k / 3, (2 * k) / 3 - 1))
      .select(col("l_orderkey"), lit("U").as("l_returnflag"),
        (col("l_orderkey") * 7).as("cents"))
      .unionByName(keys
        .filter(col("l_orderkey").between(2 * k, 2 * k + k / 3 - 1))
        .select(col("l_orderkey"), lit("I").as("l_returnflag"),
          (col("l_orderkey") * 3).as("cents")))
      .createOrReplaceTempView("graft_io64_src")
    s.sql(s"""MERGE INTO g64.graft_io64_tbl t USING graft_io64_src s
      ON t.l_orderkey = s.l_orderkey
      WHEN MATCHED AND t.cents % 2 = 0 THEN UPDATE SET
        l_returnflag = s.l_returnflag, cents = s.cents
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED AND s.l_orderkey < ${2 * k + k / 6}
        THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.l_orderkey < ${k / 6}
        THEN UPDATE SET l_returnflag = 'S'""")
    require(Manifest.versions(s, root) == Seq(1, 2, 3),
      "the conditional MERGE must land as ONE replacing commit")
    val pre = s.sql("SELECT * FROM g64.graft_io64_tbl VERSION AS OF 2")
    val post = s.sql("SELECT * FROM g64.graft_io64_tbl")
    // ── MERGE × MERGE-ON-READ interplay: a MoR UPDATE leaves live
    // epoch tombstones; routing the SAME table through MERGE must
    // merge CORRECTLY — the group rewrite reads the merged snapshot
    // and its whole-snapshot replace FOLDS the tombstones (never a
    // silent wrong-rows merge, never a refusal a fold should not
    // need) — pinned by the tombstone lifecycle requires, the phase-2
    // census, and phase 3 time-traveling THROUGH the tombstoned
    // version (the scoped merge over history) ──
    s.sql("CALL g64.set_mor_key('graft_io64_tbl', 'l_orderkey')")
    s.sql("UPDATE g64.graft_io64_tbl SET cents = cents + 5 " +
      s"WHERE l_orderkey < ${k / 6}")
    require(Manifest.versions(s, root) == Seq(1, 2, 3, 4),
      "the MoR update must be ONE appending version")
    require(Manifest.entries(s, root)
        .exists(graft.io.MergeOnRead.isTombstone),
      "the update must leave a live epoch tombstone for the merge " +
        "to fold")
    s.sql("""MERGE INTO g64.graft_io64_tbl t USING graft_io64_src s
      ON t.l_orderkey = s.l_orderkey
      WHEN MATCHED THEN UPDATE SET cents = t.cents + 1""")
    require(Manifest.versions(s, root) == Seq(1, 2, 3, 4, 5),
      "the MERGE over the tombstoned table must be ONE replacing commit")
    require(!Manifest.entries(s, root)
        .exists(graft.io.MergeOnRead.isTombstone),
      "the whole-snapshot MERGE rewrite must fold the tombstones")
    val post2 = s.sql("SELECT * FROM g64.graft_io64_tbl")
    val mid = s.sql("SELECT * FROM g64.graft_io64_tbl VERSION AS OF 4")
    dmlCensus(pre, 0).unionByName(dmlCensus(post, 1))
      .unionByName(dmlCensus(post2, 2)).unionByName(dmlCensus(mid, 3))
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io64Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |m AS (SELECT DISTINCT l_orderkey FROM lineitem, mk
      |      WHERE l_orderkey BETWEEN k // 3 AND (2 * k) // 3 - 1),
      |ins AS (SELECT DISTINCT l_orderkey FROM lineitem, mk
      |      WHERE l_orderkey BETWEEN 2 * k AND 2 * k + k // 6 - 1),
      |merged AS (
      |  SELECT li.l_orderkey,
      |    CASE WHEN m.l_orderkey IS NOT NULL THEN 'U'
      |         WHEN li.l_orderkey < (SELECT k FROM mk) // 6 THEN 'S'
      |         ELSE li.l_returnflag END AS l_returnflag,
      |    CASE WHEN m.l_orderkey IS NOT NULL THEN li.l_orderkey * 7
      |         ELSE li.cents END AS cents
      |  FROM li LEFT JOIN m ON li.l_orderkey = m.l_orderkey
      |  WHERE m.l_orderkey IS NULL OR li.cents % 2 = 0
      |  UNION ALL
      |  SELECT l_orderkey, 'I', l_orderkey * 3 FROM ins),
      |upd AS (SELECT l_orderkey, l_returnflag,
      |    cents + CASE WHEN l_orderkey < (SELECT k FROM mk) // 6
      |      THEN 5 ELSE 0 END AS cents
      |  FROM merged),
      |merged2 AS (SELECT l_orderkey, l_returnflag,
      |    cents + CASE WHEN l_orderkey IN
      |      (SELECT l_orderkey FROM m
      |       UNION ALL SELECT l_orderkey FROM ins)
      |      THEN 1 ELSE 0 END AS cents
      |  FROM upd),
      |snap AS (
      |  SELECT 0 AS phase, * FROM li
      |  UNION ALL SELECT 1, * FROM merged
      |  UNION ALL SELECT 2, * FROM merged2
      |  UNION ALL SELECT 3, * FROM upd)
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** Z-ORDER clustering as a CALL under the oracle gate (io65 — Delta
    * `OPTIMIZE ZORDER BY`): `CALL lake.cluster(t, 'x,y', 16,
    * zorder => true)` re-layouts the table along the 2-D MORTON curve
    * ([[graft.io.ZOrder]], pure column arithmetic), giving every bucket
    * a tight bounding box in BOTH dimensions — so a 2-D box probe
    * prunes to the intersecting directories AND each single-column
    * probe also prunes, through the ordinary min/max sidecars (a 1-D
    * sort can only ever serve its leading column). In-gate plan pins
    * check all three prunings; the census is identical through the
    * re-layout and the time-traveled original (layout-only, like the
    * 1-D path). Points are a deterministic 2-D spread of the distinct
    * order keys (low bits × high bits — independent dimensions), so
    * the oracle replays them exactly.
    */
  def io65ZorderCluster(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    s.conf.set("spark.sql.catalog.g65", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g65.root", tmpDir(s))
    val root = tmpDir(s) + "/graft_io65_tbl"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    // SF-independent 2-D spread: two multiplicative congruential
    // coordinates mod a PRIME (a power-of-two modulus would make both
    // functions of the key's low bits) — the point cloud fills the
    // [0,1021)² torus at every SF, so the z-buckets' boxes stay tight
    // and the fixed-bound probes below prune identically everywhere
    val pts = Tables.lineitem(s, dir).select(col("l_orderkey")).distinct()
      .select(((col("l_orderkey") * 7919) % 1021).as("x"),
        ((col("l_orderkey") * 104729) % 1021).as("y"),
        (col("l_orderkey") % 97).as("v"))
    pts.write.parquet(s"$root/data/b1")
    Manifest.commit(s, root, s"$root/data/b1")
    def census(df: DataFrame, tag: Int): DataFrame = df
      .groupBy((col("x") / 128).cast("long").as("grp"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_x"),
        sum(col("y")).as("sum_y"), sum(col("v")).as("sum_v"))
      .withColumn("phase", lit(tag))
      .select(col("phase"), col("grp"), col("n"), col("sum_x"),
        col("sum_y"), col("sum_v"))
    val p0 = census(s.sql("SELECT * FROM g65.graft_io65_tbl"), 0)
    s.sql("CALL g65.cluster('graft_io65_tbl', 'x,y', 16, " +
      "zorder => true)").collect()
    require(Manifest.committed(s, root).size == 16,
      "16 z-clustered buckets expected")
    def skippedOf(q: DataFrame): Int = {
      q.collect()
      "skippedDirs=(\\d+)".r
        .findFirstMatchIn(q.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).getOrElse(-1)
    }
    // pin floors leave a 2-directory margin under the ideal cell
    // counts: repartitionByRange SAMPLES its boundaries (the
    // skew-adaptive choice, right at scale), so a rep can land a
    // straddle-heavy split where a boundary directory's bounding box
    // unions two z-cells — the claim is the pruning REGIME, not an
    // exact split
    val box = s.sql("SELECT * FROM g65.graft_io65_tbl " +
      "WHERE x < 510 AND y < 128")
    val sBox = skippedOf(box)
    require(sBox >= 10, s"the 2-D box probe must read only the " +
      s"intersecting z-cells (want skippedDirs>=10 of 16, got $sBox)")
    val sX = skippedOf(s.sql(
      "SELECT * FROM g65.graft_io65_tbl WHERE x < 510"))
    require(sX >= 4, s"the x-only probe must prune on the z layout " +
      s"(want skippedDirs>=4 of 16, got $sX)")
    val sY = skippedOf(s.sql(
      "SELECT * FROM g65.graft_io65_tbl WHERE y < 128"))
    require(sY >= 6, s"the y-only probe must prune on the z layout " +
      s"too — what a 1-D x-sort never could (want skippedDirs>=6 of " +
      s"16, got $sY)")
    val p1 = census(box, 1)
    val p2 = census(s.sql("SELECT * FROM g65.graft_io65_tbl"), 2)
    val p3 = census(s.sql(
      "SELECT * FROM g65.graft_io65_tbl VERSION AS OF 1"), 3)
    p0.unionByName(p1).unionByName(p2).unionByName(p3)
      .orderBy(col("phase"), col("grp"))
  }

  val io65Oracle: String =
    """WITH keys AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
      |pts AS (SELECT (k * 7919) % 1021 AS x,
      |        (k * 104729) % 1021 AS y, k % 97 AS v FROM keys),
      |snap AS (
      |  SELECT 0 AS phase, * FROM pts
      |  UNION ALL SELECT 1, x, y, v FROM pts
      |    WHERE x < 510 AND y < 128
      |  UNION ALL SELECT 2, * FROM pts
      |  UNION ALL SELECT 3, * FROM pts)
      |SELECT phase, x // 128 AS grp, COUNT(*) AS n,
      |  CAST(SUM(x) AS BIGINT) AS sum_x,
      |  CAST(SUM(y) AS BIGINT) AS sum_y,
      |  CAST(SUM(v) AS BIGINT) AS sum_v
      |FROM snap GROUP BY 1, 2 ORDER BY phase, grp""".stripMargin

  /** SCOPED compaction under the oracle gate (io66 — Delta
    * `OPTIMIZE … WHERE`): `CALL lake.compact(t, where_col => c,
    * lo => …, hi => …)` rewrites ONLY the directories whose sidecar
    * stats overlap the range, committed through the conflict-detecting
    * PARTIAL replace — the out-of-scope directory carries VERBATIM
    * (pinned by path), pruning still works through the carried stats
    * (plan pin), the census is identical through the rewrite and the
    * time-traveled original, and an all-miss scope commits NOTHING
    * (no rows, no version). The maintenance shape a 100 TB table
    * actually runs: compact yesterday's partition, never the table.
    */
  def io66ScopedCompact(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    s.conf.set("spark.sql.catalog.g66", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g66.root", tmpDir(s))
    val root = tmpDir(s) + "/graft_io66_tbl"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val k = okeyUnit(s, dir)
    def batch(lo: Long, hi: Long) = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    for ((lo, hi, name) <- Seq((0L, k, "b1"), (k, 2 * k, "b2"),
        (2 * k, 3 * k, "b3"))) {
      // four files per batch so the scoped rewrite measurably compacts
      batch(lo, hi).repartition(4).write.parquet(s"$root/data/$name")
      Manifest.commitWithStats(s, root, s"$root/data/$name",
        Seq("l_orderkey"))
    }
    val p0 = dmlCensus(s.sql("SELECT * FROM g66.graft_io66_tbl"), 0)
    // all-miss scope first: no rows returned, no version burned
    val miss = s.sql("CALL g66.compact('graft_io66_tbl', " +
      s"where_col => 'l_orderkey', lo => '${9 * k}', " +
      s"hi => '${10 * k}')").collect()
    require(miss.isEmpty && Manifest.versions(s, root) == Seq(1, 2, 3),
      "an all-miss scoped compact must commit nothing")
    val res = s.sql("CALL g66.compact('graft_io66_tbl', " +
      s"where_col => 'l_orderkey', lo => '0', hi => '${2 * k - 1}')")
      .collect()
    require(res.length == 1 && res(0).getInt(2) < res(0).getInt(1),
      s"the scoped compact must reduce files, got ${res.toSeq}")
    require(Manifest.versions(s, root) == Seq(1, 2, 3, 4),
      "the scoped compact lands as ONE partial-replacing commit")
    val entries = Manifest.committed(s, root)
    require(entries.contains(s"$root/data/b3") && entries.size == 2,
      s"the out-of-scope directory must carry VERBATIM, got $entries")
    // the carried stats still prune: an out-of-slice probe skips the
    // compacted directory at planning
    val probe = s.sql("SELECT * FROM g66.graft_io66_tbl " +
      s"WHERE l_orderkey >= ${2 * k}")
    probe.collect()
    require(probe.queryExecution.executedPlan.toString
      .contains("skippedDirs=1"),
      "the compacted slice must be skippable by its carried stats:\n" +
        probe.queryExecution.executedPlan)
    val p1 = dmlCensus(probe, 1)
    val p2 = dmlCensus(s.sql("SELECT * FROM g66.graft_io66_tbl"), 2)
    val p3 = dmlCensus(s.sql(
      "SELECT * FROM g66.graft_io66_tbl VERSION AS OF 3"), 3)
    p0.unionByName(p1).unionByName(p2).unionByName(p3)
      .orderBy(col("phase"), col("l_returnflag"))
  }

  val io66Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 3 * k),
      |hiq AS (SELECT l.* FROM li l, mk WHERE l.l_orderkey >= 2 * k),
      |snap AS (
      |  SELECT 0 AS phase, * FROM li
      |  UNION ALL SELECT 1, * FROM hiq
      |  UNION ALL SELECT 2, * FROM li
      |  UNION ALL SELECT 3, * FROM li)
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  /** Z-ORDER over NON-INTEGRAL dimensions (io67) — the layout a real
    * user's first `OPTIMIZE ZORDER BY (event_ts, key)` needs: the same
    * `CALL cluster(…, zorder => true)` as io65, but the dimensions are
    * a TIMESTAMP and a STRING. The timestamp bucketizes on its epoch-
    * micros axis (the skip-stats normalization, so post-cluster probes
    * compare in the same space); the string gets ntile-style RANGE IDS
    * from Spark's own range partitioner (bounded reservoir sampling —
    * never a global sort or driver collect). Probes prune through
    * ordinary min/max sidecars: the 2-D (ts, string) box reads only
    * intersecting z-cells, and EACH single-dimension probe prunes —
    * what a 1-D sort can never give both of. Census identity holds
    * through the re-layout and the time-traveled original. Same
    * SF-independent LCG point cloud as io65, so the pin floors carry.
    */
  def io67ZorderTypes(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    s.conf.set("spark.sql.catalog.g67", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g67.root", tmpDir(s))
    val root = tmpDir(s) + "/graft_io67_tbl"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    // the io65 torus, re-expressed in real-world types: x becomes a
    // timestamp (x days after epoch), y a ZERO-PADDED string (lexical
    // order == numeric order, so the census can recover y exactly)
    val pts = Tables.lineitem(s, dir).select(col("l_orderkey")).distinct()
      .select(((col("l_orderkey") * 7919) % 1021).as("x"),
        ((col("l_orderkey") * 104729) % 1021).as("y"),
        (col("l_orderkey") % 97).as("v"))
      .select(expr("timestamp_micros(x * 86400000000)").as("ets"),
        lpad(col("y").cast("string"), 4, "0").as("skey"), col("v"))
    pts.write.parquet(s"$root/data/b1")
    Manifest.commit(s, root, s"$root/data/b1")
    def census(df: DataFrame, tag: Int): DataFrame = df
      .select((expr("unix_micros(ets)") / 86400000000L)
          .cast("long").as("x"),
        col("skey").cast("long").as("y"), col("v"))
      .groupBy((col("x") / 128).cast("long").as("grp"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_x"),
        sum(col("y")).as("sum_y"), sum(col("v")).as("sum_v"))
      .withColumn("phase", lit(tag))
      .select(col("phase"), col("grp"), col("n"), col("sum_x"),
        col("sum_y"), col("sum_v"))
    val p0 = census(s.sql("SELECT * FROM g67.graft_io67_tbl"), 0)
    s.sql("CALL g67.cluster('graft_io67_tbl', 'ets,skey', 16, " +
      "zorder => true)").collect()
    require(Manifest.committed(s, root).size == 16,
      "16 z-clustered buckets expected")
    def skippedOf(q: DataFrame): Int = {
      q.collect()
      "skippedDirs=(\\d+)".r
        .findFirstMatchIn(q.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).getOrElse(-1)
    }
    // epoch day 510 = 1971-05-26 UTC: the io65 x < 510 probe, as the
    // timestamp literal a user would write; skey < '0128' is y < 128
    // lexically (zero-padded)
    val box = s.sql("SELECT * FROM g67.graft_io67_tbl " +
      "WHERE ets < TIMESTAMP '1971-05-26 00:00:00' AND skey < '0128'")
    val sBox = skippedOf(box)
    require(sBox >= 10, s"the (ts, string) box probe must read only " +
      s"the intersecting z-cells (want skippedDirs>=10 of 16, got " +
      s"$sBox)")
    val sT = skippedOf(s.sql("SELECT * FROM g67.graft_io67_tbl " +
      "WHERE ets < TIMESTAMP '1971-05-26 00:00:00'"))
    require(sT >= 4, s"the timestamp-only probe must prune on the z " +
      s"layout (want skippedDirs>=4 of 16, got $sT)")
    val sS = skippedOf(s.sql(
      "SELECT * FROM g67.graft_io67_tbl WHERE skey < '0128'"))
    require(sS >= 6, s"the string-only probe must prune on the z " +
      s"layout too (want skippedDirs>=6 of 16, got $sS)")
    val p1 = census(box, 1)
    val p2 = census(s.sql("SELECT * FROM g67.graft_io67_tbl"), 2)
    val p3 = census(s.sql(
      "SELECT * FROM g67.graft_io67_tbl VERSION AS OF 1"), 3)
    p0.unionByName(p1).unionByName(p2).unionByName(p3)
      .orderBy(col("phase"), col("grp"))
  }

  val io67Oracle: String =
    """WITH keys AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
      |pts AS (SELECT (k * 7919) % 1021 AS x,
      |        (k * 104729) % 1021 AS y, k % 97 AS v FROM keys),
      |snap AS (
      |  SELECT 0 AS phase, * FROM pts
      |  UNION ALL SELECT 1, x, y, v FROM pts
      |    WHERE x < 510 AND y < 128
      |  UNION ALL SELECT 2, * FROM pts
      |  UNION ALL SELECT 3, * FROM pts)
      |SELECT phase, x // 128 AS grp, COUNT(*) AS n,
      |  CAST(SUM(x) AS BIGINT) AS sum_x,
      |  CAST(SUM(y) AS BIGINT) AS sum_y,
      |  CAST(SUM(v) AS BIGINT) AS sum_v
      |FROM snap GROUP BY 1, 2 ORDER BY phase, grp""".stripMargin

  /** CHANGE DATA CAPTURE under the oracle gate (io68 — Delta
    * `table_changes`): a history exercising every classification —
    * two appends (per-version `insert` rows, IO ∝ the appended dirs),
    * a merge-on-read UPDATE (update_preimage/update_postimage pairing
    * from one semi-join of the previous snapshot against the
    * broadcast key list), a merge-on-read DELETE (preimage reflects
    * the earlier update), then a FOLD and a COMPACT whose `#op:`
    * markers make CDC skip them outright (no snapshot diff to prove
    * nothing changed) — read back through the SQL
    * `table_changes('cat.tbl', from)` TVF ([[graft.expressions
    * .TableChanges]]) and censused per (version, change type). The
    * oracle replays the same ledger from lineitem.
    */
  def io68TableChanges(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Cdc, Manifest, MergeOnRead}
    val (root, k) = dmlTable(s, dir, "g68", "graft_io68_tbl")
    s.sql("CALL g68.set_mor_key('graft_io68_tbl', 'l_orderkey')")
    s.sql(s"UPDATE g68.graft_io68_tbl SET cents = cents + 7 " +
      s"WHERE l_orderkey < ${k / 4}")
    require(Manifest.versions(s, root) == Seq(1, 2, 3),
      "the MoR update must be ONE appending version")
    s.sql(s"DELETE FROM g68.graft_io68_tbl " +
      s"WHERE l_orderkey >= ${k / 8} AND l_orderkey < ${k / 2}")
    require(Manifest.versions(s, root) == Seq(1, 2, 3, 4),
      "the MoR delete must be ONE appending version")
    s.sql("CALL g68.fold('graft_io68_tbl', 'l_orderkey')").collect()
    s.sql("CALL g68.compact('graft_io68_tbl')").collect()
    require(Manifest.versions(s, root) == Seq(1, 2, 3, 4, 5, 6),
      "fold and compact must land as one replacing version each")
    require(Manifest.opOf(s, root, 5).contains("fold") &&
      Manifest.opOf(s, root, 6).contains("compact"),
      "maintenance commits must carry their #op: markers")
    graft.expressions.TableChanges.register(s)
    // staged: the TVF frame is a union of per-version join plans and is
    // consumed three times below (skip pin, net replay, census) — one
    // materialization instead of three full re-evaluations
    val ch = s.sql("SELECT * FROM " +
      "table_changes('g68.graft_io68_tbl', 1)").staged()
    // the marked maintenance versions contribute NO change rows —
    // pinned here, priced at zero snapshot reads by construction
    require(ch.filter(col(Cdc.CommitVersion) >= 5).isEmpty,
      "fold/compact must be skipped by the ledger")
    // net replay identity: inserts minus deletes (update rows cancel
    // pre/post) must equal the final table's row count
    val net = ch.groupBy()
      .agg(sum(when(col(Cdc.ChangeType) === "insert", 1L)
        .when(col(Cdc.ChangeType) === "delete", -1L)
        .otherwise(0L)).as("net"))
      .collect()(0).getLong(0)
    require(net == s.sql("SELECT count(*) FROM g68.graft_io68_tbl")
      .collect()(0).getLong(0),
      "replaying the ledger must reconstruct the final row count")
    ch.groupBy(col(Cdc.CommitVersion).as("ver"),
        col(Cdc.ChangeType).as("tpe"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("ver"), col("tpe"))
  }

  val io68Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |ch AS (
      |  SELECT 1 AS ver, 'insert' AS tpe, l_orderkey, cents
      |    FROM li, mk WHERE l_orderkey < k
      |  UNION ALL SELECT 2, 'insert', l_orderkey, cents
      |    FROM li, mk WHERE l_orderkey >= k
      |  UNION ALL SELECT 3, 'update_preimage', l_orderkey, cents
      |    FROM li, mk WHERE l_orderkey < k // 4
      |  UNION ALL SELECT 3, 'update_postimage', l_orderkey, cents + 7
      |    FROM li, mk WHERE l_orderkey < k // 4
      |  UNION ALL SELECT 4, 'delete', l_orderkey,
      |      cents + CASE WHEN l_orderkey < k // 4 THEN 7 ELSE 0 END
      |    FROM li, mk
      |    WHERE l_orderkey >= k // 8 AND l_orderkey < k // 2)
      |SELECT ver, tpe, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM ch GROUP BY 1, 2 ORDER BY ver, tpe""".stripMargin

  /** CDC APPLY — the consumer side of the ledger under the oracle gate
    * (io70): a replica table is maintained purely from
    * `table_changes` output via [[graft.io.Cdc.applyChanges]] — each
    * source version's slice lands as ONE write-cheap appending commit
    * (epoch-scoped tombstone of the affected keys + morins re-insert
    * of the surviving rows), so replica write IO ∝ the change stream,
    * never the replica. In-gate requires pin (a) every replica commit
    * is APPENDING (the replica never rewrites itself), and (b) the
    * replica's merged snapshot is row-identical to the source's —
    * closing the CDC loop end-to-end. The oracle replays the final
    * state from lineitem.
    */
  def io70CdcApply(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Cdc, Manifest, MergeOnRead}
    val (root, k) = dmlTable(s, dir, "g70", "graft_io70_tbl")
    s.sql("CALL g70.set_mor_key('graft_io70_tbl', 'l_orderkey')")
    s.sql(s"UPDATE g70.graft_io70_tbl SET cents = cents + 7 " +
      s"WHERE l_orderkey < ${k / 4}")
    s.sql(s"DELETE FROM g70.graft_io70_tbl " +
      s"WHERE l_orderkey >= ${k / 8} AND l_orderkey < ${k / 2}")
    s.sql("CALL g70.fold('graft_io70_tbl', 'l_orderkey')").collect()
    val replica = tmpDir(s) + "/graft_io70_replica"
    new org.apache.hadoop.fs.Path(replica)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(replica), true)
    val applied = Cdc.applyChanges(s, Cdc.changes(s, root, 1),
      replica, "l_orderkey", s"$replica/data")
    require(applied.size == 4,
      s"four change-bearing source versions -> four replica commits, " +
        s"got ${applied.size}")
    require(Manifest.history(s, replica).forall(_.kind == "append"),
      "the replica must never rewrite itself — every applied slice " +
        "is an appending commit")
    // staged: the merged replica snapshot is consumed twice (the
    // multiset-equality require and the final census) and each
    // evaluation re-ran the full MoR anti-join merge
    val rep = MergeOnRead.snapshot(s, replica, "l_orderkey").staged()
    val src = s.sql("SELECT * FROM g70.graft_io70_tbl")
    // multiset equality in ONE aggregation pass (±1 weights netting to
    // zero per distinct row) — exactly `exceptAll` both ways, which
    // cost four scans and two shuffled set-difference plans
    val net = rep.withColumn("_w", lit(1L))
      .unionByName(src.withColumn("_w", lit(-1L)))
      .groupBy(src.columns.map(col): _*).agg(sum(col("_w")).as("net"))
      .filter(col("net") =!= 0L)
    require(net.isEmpty,
      "the replica's merged snapshot must be row-identical to the " +
        "source")
    dmlCensus(rep, 0).orderBy(col("l_returnflag"))
  }

  val io70Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |kept AS (SELECT * FROM li, mk
      |  WHERE NOT (l_orderkey >= k // 8 AND l_orderkey < k // 2)),
      |fin AS (SELECT l_orderkey, l_returnflag,
      |    cents + CASE WHEN l_orderkey < (SELECT k FROM mk) // 8
      |      THEN 7 ELSE 0 END AS cents FROM kept)
      |SELECT 0 AS phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM fin GROUP BY 1, 2 ORDER BY l_returnflag""".stripMargin

  /** DECLARED CHECK constraints under the oracle gate (io69 — Delta
    * `ALTER TABLE ADD CONSTRAINT`): declared ONCE via
    * `CALL lake.constrain`, persisted in the table's property sidecar,
    * and enforced on EVERY later write path with no writer opt-in —
    * the violating INSERT and the violating UPDATE both refuse with
    * the staged directory deleted and NO version burned (pinned), a
    * constraint the existing data already violates refuses at
    * declaration, and the valid writes land normally. Enforcement is
    * ONE column-pruned aggregate pass over the staged directory
    * ([[graft.io.Constraints.enforceStaged]]) — cost ∝ the batch,
    * never the table. The oracle replays the surviving writes.
    */
  def io69DeclaredConstraint(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Constraints, Manifest}
    val (root, k) = dmlTable(s, dir, "g69", "graft_io69_tbl")
    s.sql("CALL g69.constrain('graft_io69_tbl', 'pos_cents', " +
      "'cents > 0')").collect()
    // declaring over data that would violate refuses at declaration
    val badDecl = try {
      s.sql("CALL g69.constrain('graft_io69_tbl', 'tiny', " +
        "'cents < 100')").collect(); false
    } catch { case e: Throwable => violationIn(e) }
    require(badDecl,
      "a constraint the existing data violates must refuse to declare")
    val vBefore = Manifest.versions(s, root).last
    val badInsert = try {
      s.sql("INSERT INTO g69.graft_io69_tbl VALUES (999999999, 'X', -5)")
      false
    } catch { case e: Throwable => violationIn(e) }
    require(badInsert, "the violating INSERT must refuse")
    require(Manifest.versions(s, root).last == vBefore,
      "a rejected batch must not burn a version")
    // the valid batch 3 lands through the same enforced path
    s.sql(s"INSERT INTO g69.graft_io69_tbl " +
      s"SELECT l_orderkey, l_returnflag, " +
      s"CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) " +
      s"FROM ${liView(s, dir)} " +
      s"WHERE l_orderkey >= ${2 * k} AND l_orderkey < ${3 * k}")
    // DML rewrites are enforced too: the violating UPDATE refuses
    // whole, the valid one lands
    val badUpdate = try {
      s.sql(s"UPDATE g69.graft_io69_tbl SET cents = cents - 1000000000 " +
        s"WHERE l_orderkey < ${k / 5}"); false
    } catch { case e: Throwable => violationIn(e) }
    require(badUpdate, "the violating UPDATE must refuse whole")
    s.sql(s"UPDATE g69.graft_io69_tbl SET cents = cents + 5 " +
      s"WHERE l_orderkey < ${k / 5}")
    dmlCensus(s.sql("SELECT * FROM g69.graft_io69_tbl"), 0)
      .orderBy(col("l_returnflag"))
  }

  private def violationIn(t: Throwable): Boolean = t != null &&
    (t.isInstanceOf[graft.io.Constraints.ConstraintViolationException] ||
      violationIn(t.getCause))

  /** A temp view over lineitem for gates that INSERT ... SELECT from
    * it through the SQL surface.
    */
  private def liView(s: SparkSession, dir: String): String = {
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem_v")
    "graft_lineitem_v"
  }

  val io69Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 3 * k),
      |upd AS (SELECT l_orderkey, l_returnflag,
      |    cents + CASE WHEN l_orderkey < (SELECT k FROM mk) // 5
      |      THEN 5 ELSE 0 END AS cents FROM li)
      |SELECT 0 AS phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM upd GROUP BY 1, 2 ORDER BY l_returnflag""".stripMargin

  /** Schema EVOLUTION across commits under the oracle gate: batch 2
    * arrives with a new column, and the graft read resolves the UNION
    * schema — pre-evolution rows read the new column as NULL (Delta's
    * evolved-read semantics; detection costs one footer probe per
    * DIRECTORY, not per file, because a directory is one write job).
    * In-gate requires pin the union schema and the null-fill; the
    * oracle replays the evolution from lineitem.
    */
  def io47SchemaDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Manifest
    val root = tmpDir(s) + "/graft_io47_tbl"
    val fsH = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsH.delete(new org.apache.hadoop.fs.Path(root), true)
    val k = okeyUnit(s, dir)
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    li.filter(col("l_orderkey") < k).write.parquet(s"$root/data/b1")
    Manifest.commit(s, root, s"$root/data/b1")
    li.filter(col("l_orderkey") >= k && col("l_orderkey") < 2 * k)
      .withColumn("cents2", col("cents") * 3)
      .write.parquet(s"$root/data/b2")
    Manifest.commit(s, root, s"$root/data/b2")
    val t = s.read.format("graft").load(root)
    require(t.schema.fieldNames.toSeq ==
      Seq("l_orderkey", "l_returnflag", "cents", "cents2"),
      s"the read must expose the union schema, got ${t.schema}")
    require(t.filter(col("cents2").isNull).count() ==
      t.filter(col("l_orderkey") < k).count(),
      "exactly the pre-evolution rows read the new column as null")
    t.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        sum(coalesce(col("cents2"), lit(0L))).as("sum_cents2"),
        count(col("cents2")).as("n_evolved"))
      .select(col("l_returnflag"), col("n"), col("sum_cents"),
        col("sum_cents2"), col("n_evolved"))
      .orderBy(col("l_returnflag"))
  }

  val io47Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |ev AS (SELECT l_orderkey, l_returnflag, cents,
      |    CASE WHEN l_orderkey >= (SELECT k FROM mk)
      |         THEN cents * 3 ELSE NULL END AS cents2 FROM li)
      |SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST(SUM(COALESCE(cents2, 0)) AS BIGINT) AS sum_cents2,
      |  CAST(COUNT(cents2) AS BIGINT) AS n_evolved
      |FROM ev GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  val io44Oracle: String =
    """WITH mk AS (SELECT (MAX(l_orderkey) + 1) // 10 AS k FROM lineitem),
      |li AS (SELECT l_orderkey, l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM lineitem, mk WHERE l_orderkey < 2 * k),
      |upd AS (SELECT DISTINCT l_orderkey FROM lineitem, mk
      |        WHERE l_orderkey BETWEEN k // 3 AND (2 * k) // 3 - 1),
      |ins AS (SELECT DISTINCT l_orderkey FROM lineitem, mk
      |        WHERE l_orderkey BETWEEN 2 * k AND 2 * k + k // 3 - 1),
      |merged AS (
      |  SELECT li.l_orderkey,
      |    CASE WHEN upd.l_orderkey IS NULL THEN li.l_returnflag
      |         ELSE 'U' END AS l_returnflag,
      |    CASE WHEN upd.l_orderkey IS NULL THEN li.cents
      |         ELSE li.l_orderkey * 7 END AS cents
      |  FROM li LEFT JOIN upd ON li.l_orderkey = upd.l_orderkey
      |  UNION ALL
      |  SELECT l_orderkey, 'I', l_orderkey * 3 FROM ins),
      |snap AS (
      |  SELECT 0 AS phase, * FROM li
      |  UNION ALL SELECT 1, * FROM merged)
      |SELECT phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snap GROUP BY 1, 2 ORDER BY phase, l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p3_audit_log" -> (p3AuditLog _),
    "p4_wire_roundtrip" -> (p4WireRoundtrip _),
    "p5_handle_klio" -> (p5HandleKlio _),
    "p6_trigger_upstream" -> (p6TriggerUpstream _),
    "m1_media_frames" -> (m1MediaFrames _),
    "m2_wav_codec" -> (m2WavCodec _),
    "m3_audio_features" -> (m3AudioFeatures _),
    "m4_image_decode" -> (m4ImageDecode _),
    "m5_phash_neardup" -> (m5PhashNeardup _),
    "m6_crossmodal_dedup" -> (m6CrossmodalDedup _),
    "m7_image_quality" -> (m7ImageQuality _),
    "m8_video_frames" -> (m8VideoFrames _),
    "m9_video_neardup" -> (m9VideoNeardup _),
    "m10_header_census" -> (m10HeaderCensus _),
    "io1_bq_single" -> (io1BqSingle _),
    "io2_bq_json" -> (io2BqJson _),
    "io3_bq_write" -> (io3BqWrite _),
    "io4_csv_roundtrip" -> (io4CsvRoundtrip _),
    "io5_json_roundtrip" -> (io5JsonRoundtrip _),
    "io6_orc_roundtrip" -> (io6OrcRoundtrip _),
    "io7_avro_roundtrip" -> (io7AvroRoundtrip _),
    "io8_proto_roundtrip" -> (io8ProtoRoundtrip _),
    "io9_bq_query" -> (io9BqQuery _),
    "io10_bucketed_join" -> (io10BucketedJoin _),
    "io11_partition_prune" -> (io11PartitionPrune _),
    "io12_compaction" -> (io12Compaction _),
    "io13_schema_evolution" -> (io13SchemaEvolution _),
    "io14_zorder" -> (io14Zorder _),
    "io15_wap" -> (io15Wap _),
    "io16_manifest" -> (io16Manifest _),
    "io17_compact_commit" -> (io17CompactCommit _),
    "io18_backfill" -> (io18Backfill _),
    "io19_vacuum" -> (io19Vacuum _),
    "io20_row_delete" -> (io20RowDelete _),
    "io21_mor_delete" -> (io21MorDelete _),
    "io22_merge_upsert" -> (io22MergeUpsert _),
    "io23_incremental" -> (io23Incremental _),
    "io24_skip_scan" -> (io24SkipScan _),
    "io25_feed_sync" -> (io25FeedSync _),
    "io26_orphan_sweep" -> (io26OrphanSweep _),
    "io27_clone" -> (io27Clone _),
    "io28_constraints" -> (io28Constraints _),
    "io29_tx_catalog" -> (io29TxCatalog _),
    "io30_quarantine" -> (io30Quarantine _),
    "io32_catalog_history" -> (io32CatalogHistory _),
    "io33_clone_retention" -> (io33CloneRetention _),
    "io34_partition_evolution" -> (io34PartitionEvolution _),
    "io35_column_mapping" -> (io35ColumnMapping _),
    "io36_deep_clone" -> (io36DeepClone _),
    "io37_version_tags" -> (io37VersionTags _),
    "io38_dsv2_timetravel" -> (io38Dsv2TimeTravel _),
    "io39_dsv2_skipscan" -> (io39Dsv2SkipScan _),
    "io40_dsv2_mor" -> (io40Dsv2Mor _),
    "io41_dsv2_write" -> (io41Dsv2Write _),
    "io42_sql_delete_cow" -> (io42SqlDeleteCow _),
    "io43_sql_delete_mor" -> (io43SqlDeleteMor _),
    "io44_sql_merge" -> (io44SqlMerge _),
    "io45_sql_update" -> (io45SqlUpdate _),
    "io46_runtime_prune" -> (io46RuntimePrune _),
    "io47_schema_drift" -> (io47SchemaDrift _),
    "io48_sql_ddl" -> (io48SqlDdl _),
    "io49_bloom_prune" -> (io49BloomPrune _),
    "io50_sql_rename" -> (io50SqlRename _),
    "io51_twophase_prune" -> (io51TwophasePrune _),
    "io52_table_rename" -> (io52TableRename _),
    "io53_sidecar_retrofit" -> (io53SidecarRetrofit _),
    "io54_agg_pushdown" -> (io54AggPushdown _),
    "io55_limit_prune" -> (io55LimitPrune _),
    "io56_topn_prune" -> (io56TopnPrune _),
    "io57_sql_cluster" -> (io57SqlCluster _),
    "io58_sql_truncate" -> (io58SqlTruncate _),
    "io59_manifest_stats" -> (io59ManifestStats _),
    "io60_sql_rollback" -> (io60SqlRollback _),
    "io61_sql_drop_column" -> (io61SqlDropColumn _),
    "io62_sql_partitioned" -> (io62SqlPartitioned _),
    "io63_mor_update" -> (io63MorUpdate _),
    "io64_merge_clauses" -> (io64MergeClauses _),
    "io65_zorder_cluster" -> (io65ZorderCluster _),
    "io66_scoped_compact" -> (io66ScopedCompact _),
    "io67_zorder_types" -> (io67ZorderTypes _),
    "io68_table_changes" -> (io68TableChanges _),
    "io69_declared_constraint" -> (io69DeclaredConstraint _),
    "io70_cdc_apply" -> (io70CdcApply _),
    "st30_stream_cdc" -> (st30StreamCdc _),
    "st1_sessionize" -> (st1Sessionize _),
    "st2_stream_join" -> (st2StreamJoin _),
    "st3_stream_window" -> (st3StreamWindow _),
    "st4_stream_dedup" -> (st4StreamDedup _),
    "st5_stream_static" -> (st5StreamStatic _),
    "st6_stream_upsert" -> (st6StreamUpsert _),
    "st7_stream_session" -> (st7StreamSession _),
    "st8_stream_ingest" -> (st8StreamIngest _),
    "st9_incremental_etl" -> (st9IncrementalEtl _),
    "st10_sessionize_tws" -> (st10SessionizeTws _),
    "st12_stream_left_join" -> (st12StreamLeftJoin _),
    "st14_stream_feed_sync" -> (st14StreamFeedSync _),
    "st18_late_census" -> (st18LateCensus _),
    "st19_late_quarantine" -> (st19LateQuarantine _),
    "st20_scd2_enrich" -> (st20Scd2Enrich _),
    "st21_stream_topk" -> (st21StreamTopk _),
    "st22_keytable_dedup" -> (st22KeytableDedup _),
    "st23_dim_refresh" -> (st23DimRefresh _),
    "st24_manifest_stream" -> (st24ManifestStream _),
    "st25_manifest_sink" -> (st25ManifestSink _),
    "st26_table_dedup_etl" -> (st26TableDedupEtl _),
    "st27_stream_ignorechanges" -> (st27StreamIgnoreChanges _),
    "st28_dedup_rocksdb" -> (st28DedupRocksdb _),
    "st29_stream_mor" -> (st29StreamMor _))

  val oracle: Map[String, String] = Map(
    "p3_audit_log" -> p3Oracle,
    "p4_wire_roundtrip" -> p4Oracle,
    "p5_handle_klio" -> p5Oracle,
    "p6_trigger_upstream" -> p6Oracle,
    "m1_media_frames" -> m1Oracle,
    "m2_wav_codec" -> m2Oracle,
    "m3_audio_features" -> m3Oracle,
    "m4_image_decode" -> m4Oracle,
    "m5_phash_neardup" -> m5Oracle,
    "m6_crossmodal_dedup" -> m6Oracle,
    "m7_image_quality" -> m7Oracle,
    "m8_video_frames" -> m8Oracle,
    "m9_video_neardup" -> m9Oracle,
    "m10_header_census" -> m10Oracle,
    "io1_bq_single" -> io1Oracle,
    "io2_bq_json" -> io2Oracle,
    "io3_bq_write" -> io3Oracle,
    "io4_csv_roundtrip" -> io4Oracle,
    "io5_json_roundtrip" -> io5Oracle,
    "io6_orc_roundtrip" -> io6Oracle,
    "io7_avro_roundtrip" -> io7Oracle,
    "io8_proto_roundtrip" -> io8Oracle,
    "io9_bq_query" -> io9Oracle,
    "io10_bucketed_join" -> io10Oracle,
    "io11_partition_prune" -> io11Oracle,
    "io12_compaction" -> io12Oracle,
    "io13_schema_evolution" -> io13Oracle,
    "io14_zorder" -> io14Oracle,
    "io15_wap" -> io15Oracle,
    "io16_manifest" -> io16Oracle,
    "io17_compact_commit" -> io17Oracle,
    "io18_backfill" -> io18Oracle,
    "io19_vacuum" -> io19Oracle,
    "io20_row_delete" -> io20Oracle,
    "io21_mor_delete" -> io21Oracle,
    "io22_merge_upsert" -> io22Oracle,
    "io23_incremental" -> io23Oracle,
    "io24_skip_scan" -> io24Oracle,
    "io25_feed_sync" -> io25Oracle,
    "io26_orphan_sweep" -> io26Oracle,
    "io27_clone" -> io27Oracle,
    "io28_constraints" -> io28Oracle,
    "io29_tx_catalog" -> io29Oracle,
    "io30_quarantine" -> io30Oracle,
    "io32_catalog_history" -> io32Oracle,
    "io33_clone_retention" -> io33Oracle,
    "io34_partition_evolution" -> io34Oracle,
    "io35_column_mapping" -> io35Oracle,
    "io36_deep_clone" -> io36Oracle,
    "io37_version_tags" -> io37Oracle,
    // the DSv2 gates share the Scala-API gates' oracles VERBATIM: the
    // read path may change, the answers may not
    "io38_dsv2_timetravel" -> io16Oracle,
    "io39_dsv2_skipscan" -> io24Oracle,
    "io40_dsv2_mor" -> io21Oracle,
    "io41_dsv2_write" -> io41Oracle,
    "io42_sql_delete_cow" -> io42Oracle,
    "io43_sql_delete_mor" -> io43Oracle,
    "io44_sql_merge" -> io44Oracle,
    "io45_sql_update" -> io45Oracle,
    "io46_runtime_prune" -> io46Oracle,
    "io47_schema_drift" -> io47Oracle,
    "io48_sql_ddl" -> io48Oracle,
    "io49_bloom_prune" -> io49Oracle,
    "io50_sql_rename" -> io50Oracle,
    "io51_twophase_prune" -> io51Oracle,
    "io52_table_rename" -> io52Oracle,
    "io53_sidecar_retrofit" -> io53Oracle,
    "io54_agg_pushdown" -> io54Oracle,
    "io55_limit_prune" -> io55Oracle,
    "io56_topn_prune" -> io56Oracle,
    "io57_sql_cluster" -> io57Oracle,
    "io58_sql_truncate" -> io58Oracle,
    "io59_manifest_stats" -> io59Oracle,
    "io60_sql_rollback" -> io60Oracle,
    "io61_sql_drop_column" -> io61Oracle,
    "io62_sql_partitioned" -> io62Oracle,
    "io63_mor_update" -> io63Oracle,
    "io64_merge_clauses" -> io64Oracle,
    "io65_zorder_cluster" -> io65Oracle,
    "io66_scoped_compact" -> io66Oracle,
    "io67_zorder_types" -> io67Oracle,
    "io68_table_changes" -> io68Oracle,
    "io69_declared_constraint" -> io69Oracle,
    "io70_cdc_apply" -> io70Oracle,
    "st30_stream_cdc" -> st30Oracle,
    "st1_sessionize" -> st1Oracle,
    "st2_stream_join" -> st2Oracle,
    "st3_stream_window" -> st3Oracle,
    "st4_stream_dedup" -> st4Oracle,
    "st5_stream_static" -> st5Oracle,
    "st6_stream_upsert" -> st6Oracle,
    "st7_stream_session" -> st7Oracle,
    "st8_stream_ingest" -> st8Oracle,
    "st9_incremental_etl" -> st9Oracle,
    "st10_sessionize_tws" -> st1Oracle,
    "st12_stream_left_join" -> st12Oracle,
    "st14_stream_feed_sync" -> st14Oracle,
    "st18_late_census" -> st18Oracle,
    "st19_late_quarantine" -> st19Oracle,
    "st20_scd2_enrich" -> st20Oracle,
    "st21_stream_topk" -> st21Oracle,
    "st22_keytable_dedup" -> st22Oracle,
    "st23_dim_refresh" -> st23Oracle,
    "st24_manifest_stream" -> st24Oracle,
    "st25_manifest_sink" -> st25Oracle,
    "st26_table_dedup_etl" -> st26Oracle,
    "st27_stream_ignorechanges" -> st27Oracle,
    "st28_dedup_rocksdb" -> st28Oracle,
    "st29_stream_mor" -> st29Oracle)
}

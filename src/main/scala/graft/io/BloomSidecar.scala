package graft.io

import java.io.{DataInputStream, DataOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
  ShortType, StringType}
import org.apache.spark.util.sketch.BloomFilter

/** Per-directory BLOOM sidecars for point-predicate pruning — the
  * membership complement to [[SkipStats]]' min/max ranges.
  *
  * A range sidecar answers "could this directory hold values in
  * [lo, hi]?" — perfect for clustered keys, useless for a POINT lookup
  * on a high-cardinality key whose every directory's range straddles
  * the probed value (the st22 key-table anti-join shape, MoR key
  * merges, literal `WHERE id = …` probes). The bloom sidecar answers
  * "could this directory hold THIS value?" with a bounded false-positive
  * rate and NO false negatives, so equality/IN predicates skip
  * directories the ranges must keep:
  *
  *  - a FALSE POSITIVE keeps a directory needlessly (IO wasted, answer
  *    right); a false negative is impossible by construction — pruning
  *    stays IO-only, never semantic, the same contract as the ranges.
  *  - size is O(distinct × bits-per-key) per directory (~1.2 MB at 1M
  *    keys / 1% fpp), read once per query plan — at 100 TB the sidecar
  *    bill is per-DIRECTORY, not per-file, like every sidecar here.
  *
  * The filter rides Spark's own `bloom_filter_agg` (via
  * `df.stat.bloomFilter` — integral values enter as `putLong`, strings
  * as their UTF-8 bytes), so consults below use the matching
  * `mightContainLong`/`mightContainString`. Written BEFORE the commit
  * like every sidecar (a committed directory always has its blooms; a
  * crash leaves an orphan); [[Landing]] chooses the columns and
  * carries them through maintenance, exactly like the min/max ones.
  */
object BloomSidecar {

  private val FileName = "_bloom"
  private val Magic = "GRAFTBLOOM1"

  /** Default false-positive probability (`spark.graft.bloomSidecar.fpp`). */
  private[graft] def fpp(s: SparkSession): Double =
    s.conf.get("spark.graft.bloomSidecar.fpp", "0.01").toDouble

  /** Sidecar-supported type tag (the [[SkipStats]] rule: integral or
    * string; everything else has no bloom and never prunes).
    */
  private[graft] def tag(dt: org.apache.spark.sql.types.DataType)
      : Option[String] = dt match {
    case LongType | IntegerType | ShortType | ByteType => Some("long")
    case StringType => Some("string")
    case _ => None
  }

  /** Build and write the directory's bloom sidecar over `cols`, given
    * its row count and each column's non-null count (what the write
    * observed). One pass per column (driver holds one filter at a
    * time); expected items = the row count — directories are single
    * write jobs, so the count is the right capacity without a distinct
    * pass. A column with no non-null value (every column of an emptied
    * directory) gets an EMPTY filter without a job, which rejects every
    * probe — right, since no equality probe can match there.
    * `bloom_filter_agg` returns null over such input, which
    * `df.stat.bloomFilter` cannot read.
    */
  def write(s: SparkSession, dataDir: String, cols: Seq[String],
      rows: Long, nonNull: Map[String, Long]): Unit = {
    val df = SchemaMemo.read(s, Seq(dataDir))
    val expected = math.max(rows, 1024L)
    val filters = cols.map { c =>
      val dt = df.schema(c).dataType
      val t = tag(dt).getOrElse(throw new IllegalArgumentException(
        s"no bloom-sidecar support for column $c of type $dt"))
      (c, t,
        if (nonNull(c) == 0L) BloomFilter.create(expected, fpp(s))
        else df.stat.bloomFilter(c, expected, fpp(s)))
    }
    install(s, dataDir, filters.map { case (c, t, bf) =>
      val bytes = new java.io.ByteArrayOutputStream()
      bf.writeTo(bytes)
      (c, t, bytes.toByteArray)
    })
  }

  /** Write the sidecar from PRE-SERIALIZED filter bytes — the install
    * half of the one-job grouped build
    * ([[graft.expressions.BloomAgg]]): the aggregation already produced
    * each directory's filters, so installing them is one small driver
    * file write per directory, never a Spark job. [[write]] lands its
    * filters through here too.
    */
  def install(s: SparkSession, dataDir: String,
      filters: Seq[(String, String, Array[Byte])]): Unit = {
    val f = new Path(dataDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = new DataOutputStream(
      f.create(new Path(dataDir, FileName), true))
    try {
      out.writeUTF(Magic)
      out.writeInt(filters.size)
      filters.foreach { case (c, t, bytes) =>
        out.writeUTF(c)
        out.writeUTF(t)
        out.writeInt(bytes.length)
        out.write(bytes)
      }
    } finally out.close()
  }

  /** The directory's blooms, if present and well-formed; a missing or
    * corrupt sidecar reads as None — the caller keeps the directory
    * (correctness never depends on a sidecar existing).
    */
  def read(f: FileSystem, dataDir: String)
      : Option[Map[String, (String, BloomFilter)]] = {
    val p = new Path(dataDir, FileName)
    if (!f.exists(p)) return None
    try {
      val in = new DataInputStream(f.open(p))
      try {
        if (in.readUTF() != Magic) return None
        val n = in.readInt()
        Some((0 until n).map { _ =>
          val c = in.readUTF()
          val t = in.readUTF()
          val len = in.readInt()
          val bytes = new Array[Byte](len)
          in.readFully(bytes)
          c -> (t, BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes)))
        }.toMap)
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** `DataInputStream.skipBytes` may skip FEWER bytes than asked (its
    * contract); a short skip would silently desync the stream and cost
    * the directory its pruning. Loop until fully skipped; zero progress
    * (truncated file) throws into the caller's fail-open catch.
    */
  private def skipFully(in: DataInputStream, len: Int): Unit = {
    var rem = len
    while (rem > 0) {
      val skipped = in.skipBytes(rem)
      require(skipped > 0, s"truncated sidecar: $rem bytes unskippable")
      rem -= skipped
    }
  }

  /** ONE column's bloom, skipping every other column's bytes — the
    * pruning consult usually probes a single key among several covered
    * columns, and filters can be megabytes each. None when the sidecar
    * is missing/corrupt or doesn't cover the column (→ keep).
    */
  def readOne(f: FileSystem, dataDir: String, col: String)
      : Option[(String, BloomFilter)] = {
    val p = new Path(dataDir, FileName)
    if (!f.exists(p)) return None
    try {
      val in = new DataInputStream(f.open(p))
      try {
        if (in.readUTF() != Magic) return None
        val n = in.readInt()
        var i = 0
        while (i < n) {
          val c = in.readUTF()
          val t = in.readUTF()
          val len = in.readInt()
          if (c == col) {
            val bytes = new Array[Byte](len)
            in.readFully(bytes)
            return Some((t, BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(bytes))))
          }
          skipFully(in, len)
          i += 1
        }
        None
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The sidecar's covered column names WITHOUT deserializing the
    * filters — planning advertises columns on every candidate join, so
    * it must not pay the megabytes-per-directory bloom read just to
    * learn names (the filters load lazily in `filter()` only when a
    * runtime consult actually happens).
    */
  def readKeys(f: FileSystem, dataDir: String): Option[Set[String]] = {
    val p = new Path(dataDir, FileName)
    if (!f.exists(p)) return None
    try {
      val in = new DataInputStream(f.open(p))
      try {
        if (in.readUTF() != Magic) return None
        val n = in.readInt()
        Some((0 until n).map { _ =>
          val c = in.readUTF()
          in.readUTF() // type tag
          val len = in.readInt()
          skipFully(in, len)
          c
        }.toSet)
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Could the directory contain `rendered` (the sidecars' string
    * rendering of a point value)? Unparseable values keep the
    * directory — never a wrong skip.
    */
  def mightContain(tpe: String, bf: BloomFilter,
      rendered: String): Boolean = tpe match {
    case "long" => rendered.toLongOption.forall(bf.mightContainLong)
    case "string" => bf.mightContainString(rendered)
    case _ => true
  }
}

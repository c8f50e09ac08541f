package graft

import org.apache.spark.sql.SparkSession

/** The local session the harness mains (Bench, Verify, QProf, PlanDump)
  * run the declared queries in, so every tool measures and checks the
  * same session shape.
  */
object GraftSession {

  /** `local[cpus]` with one shuffle partition per core, AQE on, the UI
    * off, WARN logging, and `SPARK_GRAFT_CONF="k=v;k2=v2"` applied as
    * runtime confs (route-forcing probe runs, e.g.
    * `spark.graft.dedup.maxBroadcastSigs=0` to measure the banded
    * simhash path below its natural engagement size).
    */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // events.parquet may store ts as TIMESTAMP(NANOS); Spark has no ns
      // timestamp type, so read it as epoch-nanos long (see Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // commit algorithm 2: task outputs promote directly instead of a
      // second sequential driver-side rename pass per write job. The
      // engine's own tables get their atomicity from the manifest
      // commit (staged dirs + CAS), not from the Hadoop committer, so
      // v2's weaker failure atomicity costs nothing here — and at any
      // scale, v1's O(files) driver rename pass is pure overhead.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val i = kv.indexOf('=')
      if (i > 0) spark.conf.set(kv.take(i).trim, kv.drop(i + 1).trim)
    })
    spark
  }
}

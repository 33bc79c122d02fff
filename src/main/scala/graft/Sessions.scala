package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's local SparkSession is configured. Every
  * driver main (Bench, Verify, Smoke, Soak, ScaleGen, Scratch) calls
  * [[local]]; the test session calls [[builder]] without the extension. */
object Sessions {
  /** Shared config: `local[cpus]`, shuffle partitions = cpus, UI off, UTC.
    *
    * `nanosAsLong` stays set because the `ts` physical type of
    * events.parquet has changed across testdata regenerations:
    * TIMESTAMP(NANOS), which vanilla Spark rejects, reads as epoch-nanos
    * LONG under the flag; TIMESTAMP(MICROS) is unaffected by it.
    *
    * Local mode has no executor liveness to protect: a host stall or
    * full-GC pause past the 120 s default makes HeartbeatReceiver remove
    * the DRIVER executor, which strands every in-flight AQE stage
    * (observed killing a full test run mid-suite after a 156 s stall).
    * Generous timeouts are strictly better here. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")

  /** A driver session: the shared config plus the native kernels and
    * their optimizer rewrite (`GraftExtensions`), WARN logging, and a
    * reliable checkpoint dir removed on exit ([[CkptDir]]). */
  def local(cpus: Int): SparkSession = {
    val spark = builder(cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    CkptDir.init(spark)
    spark
  }
}

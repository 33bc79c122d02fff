package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, where to write,
  * and the run's parameters. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val runDir: Path, val seed: Long, val seconds: Double,
                val cpus: Int, val report: Report) {
  def span[T](name: String)(f: => T): T = tracer.span(name)(f)

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def dir(name: String): Path = Files.createDirectories(runDir.resolve(name))

  /** Run ops until `seconds` of wall clock have passed (at least `minOps`
    * ops). Each op returns the problems its output check found; an op
    * that throws or fails its check counts as failed and its time is not
    * a sample. Returns the walls of the ops that passed, in seconds. */
  def timed(kind: String, seconds: Double, minOps: Int = 1)
           (op: Int => (() => Seq[String])): Seq[Double] =
    if (!tracer.enabled) loop(kind, seconds, minOps)(op)
    else {
      // half the time untraced, half traced: the ratio of their medians
      // is the tracing overhead
      if (tracer.active) tracer.detach(spark)
      val plain = loop(kind, seconds / 2, minOps)(op)
      tracer.attach(spark)
      val traced = loop(kind, seconds / 2, minOps)(op)
      tracer.detach(spark)
      if (plain.nonEmpty && traced.nonEmpty)
        report.layer("trace.overhead_frac",
          Stats.median(traced) / Stats.median(plain) - 1, "frac", traced.length)
      traced
    }

  /** One set-up op, traced in a traced run, with the same failure
    * accounting as `timed`. Returns its wall in seconds (0 if it failed). */
  def once(kind: String)(op: => (() => Seq[String])): Double = {
    if (tracer.enabled && !tracer.active) tracer.attach(spark)
    loop(kind, 0, 1)(_ => op).headOption.getOrElse(0.0)
  }

  private var opIndex = 0

  private def loop(kind: String, seconds: Double, minOps: Int)
                  (op: Int => (() => Seq[String])): Seq[Double] = {
    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n < minOps || System.nanoTime() < end) {
      val i = opIndex
      opIndex += 1
      n += 1
      report.attempted += 1
      try {
        val (check, wall) = tracer.op(kind)(op(i))
        val problems = check()
        log(f"$kind op $i: $wall%.3f s${if (problems.isEmpty) "" else " (failed)"}")
        if (problems.isEmpty) walls += wall
        else { report.failed += 1; problems.foreach(report.error) }
      } catch { case e: Exception =>
        report.failed += 1
        report.error(s"$kind op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      heap.sample()
    }
    walls.toSeq
  }

  /** Old-generation occupancy after GC (JMX collection usage): the peak
    * seen at op boundaries during the timed region, and the live set a
    * full GC leaves after it. */
  object heap {
    private val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.isCollectionUsageThresholdSupported &&
        p.getName.toLowerCase.contains("old"))
    private var peak = 0L
    private def used: Long = old.map(p => Option(p.getCollectionUsage).map(_.getUsed)
      .getOrElse(0L)).sum
    def reset(): Unit = { System.gc(); peak = used }
    def sample(): Unit = peak = math.max(peak, used)

    /** Report both. The live set is read after the listener bus has
      * settled and after two full GCs half a second apart: the first lets
      * Spark's context cleaner drop the broadcast and shuffle state it
      * frees asynchronously, the second collects it. */
    def report(samples: Int): Unit = {
      sample()
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      System.gc()
      Thread.sleep(500)
      System.gc()
      Ctx.this.report.layer("heap_peak_mb", peak / 1048576.0, "MB", samples)
      Ctx.this.report.e2e("heap_live_mb", used / 1048576.0, "MB", samples)
    }
  }

  /** Bytes of all regular files under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  def deleteUnder(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** The same session configuration as the engine's own bench main. */
  def session(cpus: Int, runDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      // run isolation: scratch and warehouse live in this run's directory
      .config("spark.local.dir", runDir.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val runDir = Paths.get(arg(args, "run-dir")).toAbsolutePath
    val out = Paths.get(arg(args, "out"))
    val traceOut = Paths.get(arg(args, "trace-out"))
    val cpus = arg(args, "cpus").toInt
    // java.io.tmpdir is this run's own directory: persisted index dirs
    // and checkpoints from earlier runs can never be picked up
    require(System.getProperty("java.io.tmpdir").startsWith(runDir.toString),
      "java.io.tmpdir must be inside the run directory")

    val t0 = System.nanoTime()
    val spark = session(cpus, runDir)
    graft.CkptDir.init(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val report = new Report
    val tracer = new Tracer(traced)
    val ctx = new Ctx(spark, tracer, runDir, seed, seconds, cpus, report)
    try {
      val (timedKind, texts) = workload match {
        case "recommend" => Serve.run(ctx, sessionS)
        case "curation" => Curation.run(ctx, sessionS)
        case w => sys.error(s"unknown workload $w")
      }
      ctx.log(f"workload done at ${(System.nanoTime() - t0) / 1e9}%.1f s")
      report.layer("failed_frac", report.failed.toDouble / math.max(1, report.attempted),
        "frac", report.attempted)
      if (traced) TraceReport.write(ctx, traceOut, workload, timedKind, texts())
    } catch { case e: Exception =>
      e.printStackTrace()
      report.error(s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      Files.write(out, report.json.getBytes(UTF_8))
      spark.stop()
      ctx.log(f"stopped at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }
}

package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.GraftSqlBridge

/** Plan-audit and timing tools over the driver contract — not part of it.
  *
  *  - `runMain graft.Scratch explain <key> [key ...] [--sf <dir>]` prints
  *    the formatted physical plan of each `SparkEntry.queries` key
  *    (default sf0.01).
  *  - `runMain graft.Scratch time <key> [key ...] [--reps N] [--sf <dir>]`
  *    prints warm per-key wall times via the noop sink: one warmup pass,
  *    then N timed passes in ONE session — the Bench methodology for a
  *    single key, without paying a full-inventory run (default sf0.1, 3
  *    reps). Beside the median wall it prints the median per-pass Spark
  *    job and completed-stage counts, taken by a `SparkListener`.
  *
  * Both run on the driver session ([[Sessions.local]]), so they show and
  * time the plan Bench runs. The one-off soak and probe sections that
  * used to live here are in git history; their numbers are recorded in
  * BASELINE.md. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(mode == "explain" || mode == "time",
      "usage: graft.Scratch explain|time <key> [key ...] [--sf <dir>] [--reps N]")
    val rest = args.drop(1)
    val opts = rest.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val keys = SparkEntry.checkKeys(rest.takeWhile(!_.startsWith("--")).toSeq)
    val reps = opts.getOrElse("--reps", "3").toInt
    require(reps >= 1, s"--reps must be >= 1, got $reps")
    val spark = Sessions.local(32)
    if (mode == "explain") {
      val dir = opts.getOrElse("--sf", "/root/testdata/sf0.01")
      keys.foreach { k =>
        println(s"==== $k @ $dir ====")
        SparkEntry.queries(k)(spark, dir).explain("formatted")
      }
    } else {
      val dir = opts.getOrElse("--sf", "/root/testdata/sf0.1")
      def noop(k: String): Unit = SparkEntry.queries(k)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val jobs = new AtomicInteger
      val stages = new AtomicInteger
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          stages.incrementAndGet()
      })
      def counts(): (Int, Int) = {
        GraftSqlBridge.drainListenerBus(spark.sparkContext)
        (jobs.get, stages.get)
      }
      def median[T: Ordering](xs: Seq[T]): T = xs.sorted.apply(reps / 2)
      keys.foreach { k =>
        noop(k) // warmup: codegen, footers, session caches
        val passes = (1 to reps).map { _ =>
          val (j0, s0) = counts()
          val t0 = System.nanoTime()
          noop(k)
          val t = (System.nanoTime() - t0) / 1e9
          val (j1, s1) = counts()
          (t, j1 - j0, s1 - s0)
        }
        println(f"[time] $k%-28s median ${median(passes.map(_._1))}%.2f s" +
          s"  jobs ${median(passes.map(_._2))}" +
          s" stages ${median(passes.map(_._3))}" +
          s"  passes ${passes.map(p => f"${p._1}%.2f").mkString(" ")}")
      }
    }
    spark.stop()
  }
}

package graft

/** Plan-audit and timing tools over the driver contract — not part of it.
  *
  *  - `runMain graft.Scratch explain <key> [key ...] [--sf <dir>]` prints
  *    the formatted physical plan of each `SparkEntry.queries` key
  *    (default sf0.01).
  *  - `runMain graft.Scratch time <key> [key ...] [--reps N] [--sf <dir>]`
  *    prints warm per-key wall times via the noop sink: one warmup pass,
  *    then N timed passes in ONE session — the Bench methodology for a
  *    single key, without paying a full-inventory run (default sf0.1, 3
  *    reps).
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
      keys.foreach { k =>
        noop(k) // warmup: codegen, footers, session caches
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          noop(k)
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[time] $k%-28s median ${times.sorted.apply(reps / 2)}%.2f s" +
          s"  passes ${times.map(t => f"$t%.2f").mkString(" ")}")
      }
    }
    spark.stop()
  }
}

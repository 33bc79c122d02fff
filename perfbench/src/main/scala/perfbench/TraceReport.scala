package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.plans.{FeatureHashEmbed, NearestCentroid, NativeFunctions}

/** Per-layer metrics of a traced run, and the trace file itself. */
object TraceReport {
  /** Span name → (per-layer metric, unit). A metric is the total time of
    * its spans in one op, as a median over the ops that have it (set-up
    * ops included, warm-up ops not). */
  val spanMetrics: Seq[(String, String, String)] = Seq(
    ("Tables.load", "Tables.load_ms", "ms"),
    ("HrPipeline.load", "HrPipeline.load_s", "s"),
    ("HrPipeline.collection_write", "HrPipeline.collection_write_s", "s"),
    ("HrPipeline.needs_rebuild", "HrPipeline.needs_rebuild_s", "s"),
    ("HrPipeline.upsert", "HrPipeline.upsert_s", "s"),
    ("HrPipeline.embed", "HrPipeline.embed_ms", "ms"),
    ("HrPipeline.recommend_call", "HrPipeline.recommend_call_ms", "ms"),
    ("HrPipeline.recommend_exec", "HrPipeline.recommend_exec_ms", "ms"),
    ("Ann.kmeans", "Ann.kmeans_s", "s"),
    ("Ann.write_partitioned", "Ann.write_partitioned_s", "s"),
    ("Ann.probe", "Ann.probe_ms", "ms"),
    ("Pq.train", "Pq.train_s", "s"),
    ("Pq.encode", "Pq.encode_s", "s"),
    ("Pq.topk_refined", "Pq.topk_refined_ms", "ms"),
    ("Knn.join", "Knn.join_s", "s"))

  private def scale(unit: String): Double = if (unit == "ms") 1e6 else 1e9

  /** Engine counters, task timing and the unattributed share are medians
    * over the timed ops, those of kind `timedKind`. */
  def write(c: Ctx, out: Path, workload: String, timedKind: String,
            texts: org.apache.spark.sql.DataFrame): Unit = {
    val t = c.tracer
    val r = c.report
    val all = t.ops.toSeq.filter(_.kind != "warm")
    val ops = all.filter(_.kind == timedKind)
    if (ops.isEmpty) return
    val tasks = t.listener.map(_.taskRecs).getOrElse(Seq())
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

    // layer spans
    spanMetrics.foreach { case (span, metric, unit) =>
      val perOp = all.flatMap { o =>
        val s = t.spansOf(o.id).filter(_.name == span)
        Option.when(s.nonEmpty)(s.map(_.durNs).sum / scale(unit))
      }
      if (perOp.nonEmpty) r.layer(metric, med(perOp), unit, perOp.length)
    }
    val ivf = ops.flatMap { o =>
      val s = t.spansOf(o.id).filter(x => x.name == "Ann.probe" || x.name == "Ann.ivf_exec")
      Option.when(s.nonEmpty)(s.map(_.durNs).sum / 1e6)
    }
    if (ivf.nonEmpty) r.layer("Ann.ivf_topk_ms", med(ivf), "ms", ivf.length)

    // engine counters, per op
    def perOp(name: String, unit: String)(f: Tracer.Counters => Double): Unit =
      r.layer(name, med(ops.map(o => f(o.delta))), unit, ops.length)
    perOp("spark.analysis_ms", "ms")(_.analysisMs.toDouble)
    perOp("spark.optimization_ms", "ms")(_.optimizationMs.toDouble)
    perOp("spark.planning_ms", "ms")(_.planningMs.toDouble)
    perOp("spark.jobs", "count")(_.jobs.toDouble)
    perOp("spark.stages", "count")(_.stages.toDouble)
    perOp("spark.tasks", "count")(_.tasks.toDouble)
    perOp("spark.failed_tasks", "count")(_.failedTasks.toDouble)
    perOp("spark.task_busy_s", "s")(_.taskRunMs / 1e3)
    perOp("spark.cpu_s", "s")(_.cpuNs / 1e9)
    perOp("spark.gc_s", "s")(_.gcMs / 1e3)
    perOp("spark.shuffle_write_bytes", "B")(_.shuffleWrite.toDouble)
    perOp("spark.shuffle_read_bytes", "B")(_.shuffleRead.toDouble)
    perOp("spark.spill_bytes", "B")(_.spill.toDouble)
    perOp("spark.input_bytes", "B")(_.input.toDouble)

    // task timing inside each op window: idle cores, gaps with no task, skew
    val roots = ops.map(o => t.spansOf(o.id).find(_.parent < 0).get)
    val timing = roots.map { root =>
      val mine = tasks.filter(x => x.finishMs >= root.ms0 && x.launchMs <= root.ms1)
      val wallMs = math.max(1L, root.ms1 - root.ms0).toDouble
      val busy = mine.map(x => x.finishMs - x.launchMs).sum.toDouble
      val covered = mine.map(x => (math.max(x.launchMs, root.ms0), math.min(x.finishMs, root.ms1)))
        .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
          if (b <= end) (acc, end) else (acc + b - math.max(a, end), b)
        }._1
      val skew = mine.groupBy(_.stage).values.filter(_.length >= 2).map { st =>
        val d = st.map(x => (x.finishMs - x.launchMs).toDouble)
        d.max / math.max(1.0, Stats.median(d))
      }.foldLeft(1.0)(math.max)
      ((wallMs - covered) / 1e3, 1 - busy / (c.cpus * wallMs), skew)
    }
    r.layer("spark.driver_gap_s", med(timing.map(_._1)), "s", ops.length)
    r.layer("spark.idle_core_frac", med(timing.map(_._2)), "frac", ops.length)
    r.layer("spark.stage_skew", med(timing.map(_._3)), "ratio", ops.length)

    // share of each op no layer span covers
    val unattributed = roots.map(root => t.selfNs(root).toDouble / math.max(1L, root.durNs))
    r.layer("trace.unattributed_frac", med(unattributed), "frac", ops.length)

    kernels(c, texts)

    // the trace file: every span, every op's counters, per-layer self time
    // per timed op
    val timedIds = ops.map(_.id).toSet
    val self = t.spans.filter(s => timedIds(s.op)).groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(t.selfNs).sum / 1e9 / ops.length
    }
    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val spanJson = t.spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${js(s.name)},""" +
        s""""start_ns":${s.t0},"end_ns":${s.t1},"self_ns":${t.selfNs(s)}}""")
    val opJson = t.ops.map { o =>
      val d = o.delta
      s"""{"op":${o.id},"kind":${js(o.kind)},"jobs":${d.jobs},"stages":${d.stages},""" +
        s""""tasks":${d.tasks},"task_run_ms":${d.taskRunMs},"cpu_ns":${d.cpuNs},""" +
        s""""gc_ms":${d.gcMs},"shuffle_write":${d.shuffleWrite},""" +
        s""""shuffle_read":${d.shuffleRead},"spill":${d.spill},"input":${d.input},""" +
        s""""analysis_ms":${d.analysisMs},"optimization_ms":${d.optimizationMs},""" +
        s""""planning_ms":${d.planningMs}}"""
    }
    val selfJson = self.toSeq.sortBy(-_._2).map { case (n, s) => s"${js(n)}:$s" }
    Files.createDirectories(out.getParent)
    Files.write(out, (s"""{"workload":${js(workload)},"seed":${c.seed},""" +
      s""""self_s_per_op":${selfJson.mkString("{", ",", "}")},""" +
      s""""ops":${opJson.mkString("[", ",\n", "]")},""" +
      s""""spans":${spanJson.mkString("[", ",\n", "]")}}""").getBytes(UTF_8))
    System.err.println(s"[perfbench] self time per op (s): " +
      self.toSeq.sortBy(-_._2).take(12).map { case (n, s) => f"$n=$s%.3f" }.mkString(" "))
  }

  /** Rows per second of each native kernel in `plans`, from noop-sink
    * projections over the workload's own texts and vectors (median of
    * five runs over a materialised copy). */
  def kernels(c: Ctx, texts: org.apache.spark.sql.DataFrame): Unit = {
    val spark = c.spark
    val src = c.runDir.resolve("kernels").toString
    texts.select(col("document"),
        graft.sources.HrPipeline.featureHashEmbedding(col("document"), IndexBuild.Dim)
          .as("embedding"))
      .write.mode("overwrite").parquet(src)
    val df = spark.read.parquet(src)
    val rows = df.count().toDouble
    val sample = df.select(col("embedding").cast("array<double>")).limit(32)
      .collect().map(_.getSeq[Double](0)).toSeq
    def rate(name: String, e: org.apache.spark.sql.Column): Unit = {
      val walls = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        df.select(e).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      c.report.layer(s"plans.$name.rows_per_s", rows / Stats.median(walls), "1/s", 5)
    }
    rate("FeatureHashEmbed", FeatureHashEmbed.featureHashNative(col("document"), IndexBuild.Dim))
    rate("NearestCentroid",
      NearestCentroid.nearestCentroid(col("embedding").cast("array<double>"), sample))
    rate("L2Distance", NativeFunctions.l2Native(col("embedding"), typedlit(sample.head)))
  }
}

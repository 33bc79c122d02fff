package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // warmup: parquet footers, codegen/JIT, and the one-time index
    // training the session-scoped caches hold (IVF k-means, PQ
    // codebooks) — the reference builds its collection ONCE and queries
    // it many times (vector_db.py:44-66), so steady-state per-query time
    // is the comparable number; the warmup pass's own cost is reported
    // separately below rather than billed to whichever query happens to
    // run first (the PerfGateSpec methodology)
    Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val w0 = System.nanoTime()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name warmup failed: ${e.getMessage}")
      }
    }
    val warmupSec = (System.nanoTime() - w0) / 1e9
    // run in name order (deterministic), execute the FULL query via the
    // noop sink — count() would let Catalyst prune the projections being
    // measured. Multiple timed passes, per-key MEDIAN reported: this host
    // shows intermittent multi-second stalls that land on a different
    // random key subset each pass (five same-binary totals ranged
    // 84-272 s, BASELINE.md round 7), so a single pass is a sample of
    // host noise as much as of the engine — the median across passes is
    // the comparable per-key statistic.
    // clamped to >=1: zero/negative passes would leave the median index
    // out of bounds (ADVICE round 7)
    val nRuns = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // wall-clock guard: on a badly stalled host, degrade to fewer passes
    // (min 1) instead of running unboundedly — a median over 2 passes
    // beats a truncated artifact if the harness enforces a timeout
    val maxSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_SEC", "900").toInt
    val benchStart = System.nanoTime()
    val passes = (1 to nRuns).flatMap { pass =>
      if (pass > 1 && (System.nanoTime() - benchStart) / 1e9 > maxSec) {
        System.err.println(s"[bench] wall guard: stopping after ${pass - 1} passes")
        None
      } else Some(queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        name -> (System.nanoTime() - t0) / 1e9
      })
    }
    val results = queries.map { case (name, _) =>
      val samples = passes.map(_.toMap.apply(name)).sorted
      name -> samples(samples.length / 2)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val passTotals = passes.map(p => f"${p.map(_._2).sum}%.3f")
      .mkString("[", ",", "]")
    // known-noisy rows, with measured run-to-run bands (multi-run evidence
    // in BASELINE.md) — so a regression diff over the artifact can be
    // mechanical: a reading inside its band is noise, outside it is real.
    // Bands are SINGLE-PASS spreads; the per-key medians this artifact
    // now reports sit inside them (medians mute the spikes the bands
    // describe), so the bands remain the outer noise envelope.
    val varianceNote = Seq(
      "q_dedup_components_star" ->
        "2.3-3.5s across runs; iterative-join variance, plan stable",
      "q_multimodal_video" ->
        "0.6-1.0s post-spread band (round-8 kernel-parallelism fix; round-7 band 2.26-3.55s)",
      "q_multimodal_decode" ->
        "0.5-0.9s post-spread band (round-8; round-7 band 1.37-2.18s)",
      "q_dedup_minhash" ->
        "0.91-4.65s; one-shot GC/JIT spikes, see BASELINE.md bandbench",
      "q_dedup_minhash_bucketed" ->
        "0.80-0.99s steady-state; round-6 2.86s reading was single-run noise",
      "q_ngram_jaccard" -> "2.1-4.1s across runs; valved plan stable",
      "q_rank_composite" ->
        "0.2-0.8s; sub-second rows read +-0.5s under heavy neighbors",
      "q_ann_graph" ->
        "0.8-1.5s; round-7 indexed serve trades the corpus exchange for a per-invocation index decode (BASELINE.md graphsoak: 9MB vs 1.6GB shuffle at 1M)",
      "q_ann_graph_join" ->
        "0.9-1.5s; same indexed-serve decode trade as q_ann_graph",
      "q_graph_join_exhaustive" ->
        "0.6-1.9s; ef=4000 exhaustive beams over the indexed read - decode + full-shard evals by design (hash-proof key)")
      .map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    // "statistic" names what "value" IS since round 7 (a sum of per-key
    // MEDIANS across `runs` passes, not a single-pass wall total as in
    // rounds <=6) — cross-round artifact readers compare like with like
    // by checking this field (ADVICE round 7)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","statistic":"sum_of_per_key_medians","warmup_sec":$warmupSec,"runs":${passes.length},"pass_totals":$passTotals,"queries":$qs,"variance_note":$varianceNote,"sf":"$sfDir"}"""
    println(line)
    // ALSO write the artifact to a file: stdout capture has truncated the
    // per-query tail before (round-2 BENCH artifact lost ~13 queries), and
    // a file survives any pipe/buffer limit
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}

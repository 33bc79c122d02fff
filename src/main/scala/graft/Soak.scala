package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup, Knn, Pq}

/** sf1-scale soak for the three heaviest operator families — not part of
  * the driver contract (testdata stops at sf0.1; this generates a
  * deterministic ~10× documents/embeddings set in a temp dir and records
  * timings + plan stability in BASELINE.md).
  *
  * Soak set: 50,000 documents (10× sf0.1; same vocabulary/shape — ~15–70
  * token texts, 5 langs × 10 sources) and 20,000 × 64-dim embeddings
  * (10× sf0.1's row count, near-uniform like the sf tables). Everything
  * is arithmetic in doc_id/vec_id — no RNG, identical on every run.
  *
  * Asserts (crashing if violated, so a driver run can't miss it):
  *  - no plan degenerates to CartesianProduct/BroadcastNestedLoopJoin at
  *    the larger size;
  *  - knnJoinIvf keeps the ShuffledHashJoin (corpus never broadcast,
  *    never sorted) exactly as PlanSpec pins at sf0.001.
  */
object Soak {
  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime(); val r = f
    println(f"[soak] $label%-36s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  /** The deterministic soak document corpus (hash-mixed ~unique texts,
    * 15–70 tokens, 5 langs × 10 sources). Everything is arithmetic in
    * doc_id: no RNG, identical on every run. */
  def genDocs(spark: SparkSession, nDocs: Long): DataFrame = {
    val vocab = Seq("batch", "part", "spark", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "hash", "slow", "group",
      "agg", "filter", "query", "big", "key", "window", "row", "table",
      "stream", "merge", "data", "vector", "index", "probe", "shuffle",
      "plan")
    spark.range(nDocs).select(
      col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), lit(15) + col("id") % 56), i =>
        element_at(typedlit(vocab),
          pmod(hash(col("id"), i), lit(vocab.size)).cast("int") + 1)),
        " ").as("text"),
      element_at(typedlit(Seq("zh", "en", "ko", "de", "fr")),
        (col("id") % 5).cast("int") + 1).as("lang"),
      concat(lit("src"), (col("id") % 10).cast("string")).as("source"))
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def assertPlanSane(name: String, df: DataFrame,
                       requireShj: Boolean = false): Unit = {
      // AQE re-plans at runtime: the pre-execution executedPlan is only
      // the INITIAL plan, so execute first (distributed no-op; also
      // doubles as the timed run's warmup) and assert on the final one
      df.queryExecution.executedPlan.execute().foreach(_ => ())
      val p = df.queryExecution.executedPlan.toString
      require(p.contains("isFinalPlan=true") || !p.contains("AdaptiveSparkPlan"),
        s"$name: plan not finalized — assertion would be vacuous:\n$p")
      require(!p.contains("CartesianProduct"), s"$name: cartesian at soak scale")
      require(!p.contains("BroadcastNestedLoopJoin"), s"$name: BNLJ at soak scale")
      if (requireShj)
        require(p.contains("ShuffledHashJoin") && !p.contains("BroadcastHashJoin"),
          s"$name: IVF join flipped strategy at soak scale:\n$p")
    }

    val dir = java.nio.file.Files.createTempDirectory("graft-soak-").toString
    val nDocs = 50000L
    // token i of doc d = vocab[hash(d, i) mod |vocab|] — hash-mixed so
    // texts are effectively unique (an earlier arithmetic generator was
    // cyclic in d mod 30: ~60 identical copies per text, which turned
    // pair EMISSION itself quadratic in cluster size — recorded in
    // BASELINE.md as the dup-heavy stress case; mitigation there is
    // exactDedup BEFORE any near-dup pass). Length 15 + (d mod 56).
    val docs = genDocs(spark, nDocs)
    time("generate+write documents (50k)") {
      docs.write.mode("overwrite").parquet(s"$dir/documents")
    }
    val soakDocs = spark.read.parquet(s"$dir/documents")

    val nVecs = 20000L; val dim = 64
    // hash-mixed components — genuinely near-uniform like the sf tables.
    // (The earlier affine generator (id·31 + j·7 + (id·j) mod 13) made
    // vectors HIGHLY correlated: 38% of the corpus landed in one
    // hyperplane-LSH bucket and most pairs were genuine near-dups —
    // kept below as the correlated stress case.)
    val vecs = spark.range(nVecs).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        pmod(hash(col("id"), j), lit(1000)).cast("double") / 1000.0)
        .as("embedding"))
    time("generate+write embeddings (20k x 64)") {
      vecs.write.mode("overwrite").parquet(s"$dir/embeddings")
    }
    val soakVecs = spark.read.parquet(s"$dir/embeddings")

    // ---- MinHash LSH pairs (one banded shuffle; Σ bucket², not n²)
    val lsh = Dedup.lshCandidatePairs(soakDocs, col("doc_id"), col("text"))
    assertPlanSane("lshCandidatePairs", lsh)
    time("lshCandidatePairs (50k docs)") { noop(lsh) }

    // ---- metadata-blocked Jaccard, VALVED (the hot-block-sensitive
    // form). Unvalved, this exact row measured 294.7 s (BASELINE.md
    // round 3): 10 hot (lang, source) blocks (id%5 is determined by
    // id%10) × 5000 docs = 25M scored pairs, Σ block² with no bound.
    // With maxBlock=512 every hot block is excluded-and-audited (the
    // declared q_ngram_jaccard form) and the oversized blocks route to
    // jaccardLsh — measured above on the same corpus.
    val jacMeta = Dedup.jaccardPairs(soakDocs, col("doc_id"), col("text"),
      blockCols = Seq("lang", "source"), n = 3, threshold = 0.2,
      maxBlock = 512)
    assertPlanSane("jaccardPairs", jacMeta)
    time("jaccardPairs lang+source blocks, maxBlock=512 (unvalved: 294.7s)") {
      noop(jacMeta)
    }
    val jacAudit = Dedup.jaccardOversizedBlocks(soakDocs, col("doc_id"),
      Seq("lang", "source"), maxBlock = 512).count()
    require(jacAudit == 10L,
      s"all 10 uniform 5000-doc blocks must be audited as oversized, got $jacAudit")
    println(s"[soak] jaccardOversizedBlocks audit rows = $jacAudit")

    // ---- LSH-blocked Jaccard (the corpus-independent scale form)
    val jacLsh = Dedup.jaccardLsh(soakDocs, col("doc_id"), col("text"))
    assertPlanSane("jaccardLsh", jacLsh)
    time("jaccardLsh (50k docs)") { noop(jacLsh) }

    // ---- unigram LM scoring (two linear shuffles: term counts, per-doc
    // regroup; count join is a shuffle join by design — vocab is not
    // broadcast-size at corpus scale)
    val lm = graft.operators.LmScore.lmScore(soakDocs,
      col("doc_id"), col("text"))
    assertPlanSane("lmScore", lm)
    time("lmScore (50k docs)") { noop(lm) }

    // ---- TF-IDF cosine all-pairs join (Σ df² bounded by the df valve:
    // a shingle in more than maxDf docs is excluded-and-auditable, so
    // candidate work cannot go quadratic on a repetitive corpus — this
    // 15-word-vocabulary soak set is exactly that worst case)
    val sim = graft.operators.SimJoin.tfidfCosinePairs(soakDocs,
      col("doc_id"), col("text"), nDocs = 50000L, minCos = 0.5, maxDf = 10)
    assertPlanSane("tfidfCosinePairs", sim)
    time("tfidfCosinePairs (50k docs, maxDf=10)") { noop(sim) }

    // ---- simjoin under SURVIVING-term skew: 6,000 of the 50k docs open
    // with one identical shingle that stays under maxDf — the df valve
    // keeps it, so its C(6000,2) ≈ 18M pair products land on ONE shuffle
    // key. AQE cannot split a self-join fused into its upstream h
    // distribution (SimJoinSpec), so the skewGuard salting must bound
    // the straggler: the salted run is timed against the unguarded one.
    {
      val tuned = Seq(
        // the surviving wp side is hot-doc-sized → would broadcast; force
        // the shuffled path a corpus-scale run takes
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
      tuned.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        // 6,000 docs share the hot leading shingle; the other 44k carry
        // unique tokens (df=1 shingles join nothing) — the pair work is
        // exactly the hot key's C(6000,2), all on one shuffle key
        val hotDocs = spark.range(nDocs).select(col("id").as("doc_id"),
          when(col("id") < 6000,
              concat(lit("alpha beta gamma tail"), col("id")))
            .otherwise(concat(lit("u"), col("id"), lit(" v"), col("id"),
              lit(" w"), col("id"))).as("text"))
        val simHot = graft.operators.SimJoin.tfidfCosinePairs(hotDocs,
          col("doc_id"), col("text"), nDocs = 50000L, minCos = 0.0,
          maxDf = 6500, skewGuard = true, skewSalts = 16)
        assertPlanSane("tfidfCosinePairs hot-term salted", simHot)
        require(simHot.queryExecution.executedPlan.toString.contains("_salt"),
          "skewGuard did not salt the soak-scale pair join")
        time("tfidfCosinePairs hot-term SALTED x16 (6k-hot/50k)") {
          noop(simHot) }
        val simUnguarded = graft.operators.SimJoin.tfidfCosinePairs(hotDocs,
          col("doc_id"), col("text"), nDocs = 50000L, minCos = 0.0,
          maxDf = 6500)
        time("tfidfCosinePairs hot-term UNGUARDED (6k-hot/50k)") {
          noop(simUnguarded) }
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    // ---- IVF kNN join: train k=16 on the 20k corpus, 100-query batch
    val cents = time("kmeans train k=16, 3 iters") {
      Ann.kmeansCentroids(soakVecs, col("vec_id"), col("embedding"), 16, 3)
    }
    val indexed = Ann.assignCells(soakVecs, col("vec_id"), col("embedding"),
      cents)
    val ivfJoin = Knn.knnJoinIvf(indexed.filter(col("vec_id") < 100),
      col("vec_id"), col("embedding"), indexed, col("vec_id"),
      col("embedding"), cents, k = 10, nProbe = 3)
    assertPlanSane("knnJoinIvf", ivfJoin, requireShj = true)
    time("knnJoinIvf 100q x 20k, nProbe 3/16") { noop(ivfJoin) }

    // ---- PQ: codebook training + the full-corpus encode pass (native
    // nearest-centroid kernel), ADC top-k + refine
    val pqm = time("pq trainCodebooks m=8 ks=16, 3 iters") {
      Pq.trainCodebooks(soakVecs, col("vec_id"), col("embedding"), 8, 16, 3)
    }
    val encoded = Pq.encode(soakVecs, col("embedding"), pqm)
    assertPlanSane("pqEncode", encoded)
    time("pq encode (20k x 64 -> 8 codes)") { noop(encoded) }
    val q0 = Knn.vectorAt(soakVecs, col("vec_id"), 0L, col("embedding"))
    val adc = Pq.pqTopKRefined(encoded, col("codes"), col("embedding"),
      pqm, q0, k = 10, overfetch = 8)
    assertPlanSane("pqTopKRefined", adc)
    time("pq ADC top-10 + exact refine") { noop(adc) }

    // ---- hyperplane-LSH embedding near-dup (native signature kernel,
    // banded buckets, squared-L2 candidate scoring)
    val hlsh = Dedup.embedLshNearDupPairs(soakVecs, col("vec_id"),
      col("embedding"), threshold = 0.25, nPlanes = 16, bandBits = 8,
      center = 0.5)
    assertPlanSane("embedLshNearDupPairs", hlsh)
    time("embedLshNearDupPairs (20k x 64)") { noop(hlsh) }

    // ---- correlated-corpus stress: the affine generator puts 38% of
    // rows in ONE bucket (most pairs are genuine near-dups — quadratic
    // OUTPUT). The maxBucket valve keeps the pair query bounded and the
    // audit view reports exactly what was excluded.
    val corr = spark.range(nVecs).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        (((col("id") * 31 + j * 7 + (col("id") * j) % 13) % 1000))
          .cast("double") / 1000.0).as("embedding"))
      .localCheckpoint(true)
    val capped = Dedup.embedLshNearDupPairs(corr, col("vec_id"),
      col("embedding"), threshold = 0.25, center = 0.5, maxBucket = 1024)
    time("embedLsh correlated, maxBucket=1024") { noop(capped) }
    val dropped = Dedup.embedLshOversizedBuckets(corr, col("vec_id"),
      col("embedding"), center = 0.5, maxBucket = 1024)
      .collect().map(r => s"${r.getInt(0)}/${r.getString(1)}=${r.getInt(2)}")
    println(s"[soak] embedLsh dropped buckets: ${dropped.mkString(", ")}")

    println(s"[soak] done; data at $dir")
    spark.stop()
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{tokens, tokenHash16, tokenHash32}
import graft.functions.VectorFunctions.cosine
import graft.functions.Rounding.floorRound6

/** Deduplication operators for large-scale training-data pipelines:
  * exact (content-digest groupBy), MinHash+LSH banding, SimHash, n-gram
  * Jaccard, and embedding-cosine near-dup.
  *
  * Everything is hash-partitioned dataflow — no driver-side candidate sets:
  *  - exact dedup: one shuffle on the digest (uniform, skew-free);
  *  - MinHash LSH: shingle → signature map-side, then ONE shuffle of
  *    (band_idx, band_hash) exploded rows; candidate pairs come from a
  *    bucket self-join, so cost is Σ bucket² not n²;
  *  - Jaccard / cosine near-dup: blocked self-joins — the block key
  *    (metadata or LSH bucket) bounds the quadratic term.
  *
  * All hashes are md5-derived (engine-portable, deterministic) — never
  * JVM `hashCode` or murmur `hash()`, so the DuckDB oracle reproduces
  * signatures bit-for-bit.
  */
object Dedup {

  // ---- exact ----------------------------------------------------------

  /** Canonical row per distinct content: (digest, keep_id = min id, count). */
  def exactDedup(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(md5(textCol).as("h"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("dup_cnt"))

  // ---- MinHash + LSH --------------------------------------------------

  /** Word n-gram shingles of the lowercased token stream; texts shorter
    * than `n` tokens collapse to a single whole-text shingle.
    *
    * Built by zipping the token array with its own shifted slices —
    * `zip_with` evaluates each argument array once per ROW. (The obvious
    * `transform(sequence(...), i => element_at(toks, i+o))` formulation
    * re-evaluates the tokenization per ELEMENT, because higher-order
    * lambdas are interpreted with no subexpression sharing — measured 7×
    * slower end-to-end.) */
  def wordShingles(textCol: Column, n: Int = 3): Column = {
    val toks = tokens(textCol)
    // zip_with pads the shorter side with nulls; concat propagates them, so
    // after folding, the trailing n-1 slots are null — sliced away below.
    val grams = (2 to n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k), size(toks) - (k - 1)),
        (a, b) => concat(a, lit(" "), b))
    }
    when(size(toks) >= n, slice(grams, lit(1), size(toks) - (n - 1)))
      .otherwise(array(array_join(toks, " ")))
  }

  /** MinHash signature from per-shingle 16-bit hashes: slot j is
    * min over shingles of `(a_j·h + b_j) mod p` (the classic affine hash
    * family). The expensive md5 runs ONCE per shingle (`hv`); the 8 slots
    * are cheap arithmetic over it — vs hashing every shingle once per
    * slot, this is a `numHashes`× cut in hash work. */
  def minhashFromHashes(hv: Column, numHashes: Int = 8): Column =
    array((0 until numHashes).map { j =>
      array_min(transform(hv,
        h => (h * (37L * j + 101L) + (1009L * j + 9176L)) % 1000000007L))
    }: _*)

  /** LSH band keys: `bands` groups of `rowsPerBand` signature slots folded
    * into one BIGINT bucket key (pure arithmetic — no digest; the fold
    * reduces mod 2^31 before each multiply so it never overflows BIGINT,
    * which would *throw* under ANSI mode). Docs sharing ANY band key are
    * candidate pairs. */
  def bandKeys(sig: Column, bands: Int = 4, rowsPerBand: Int = 2): Column =
    array((0 until bands).map { b =>
      (0 until rowsPerBand)
        .map(r => element_at(sig, b * rowsPerBand + r + 1))
        .reduce((acc, y) => (acc % 2147483647L) * 2000000011L + y)
    }: _*)

  /** All unordered pairs (id1 < id2) from a sorted id array, as structs. */
  private def pairArray(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("id1"), y.as("id2")))))

  /** The exploded (id, band_idx, band_key) relation every LSH family
    * groups or joins on — the PERSISTABLE form of the minhash index
    * (see [[writeBandTable]]). Signature map-side: one md5 pass +
    * arithmetic per doc, `bands` output rows each. */
  def bandRows(df: DataFrame, idCol: Column, textCol: Column,
               n: Int = 3, numHashes: Int = 8,
               bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands) — " +
        "trailing signature slots would be silently ignored otherwise")
    val rPerBand = numHashes / bands
    // spread past a single-row-group scan (the sf10 soak found every
    // map-side shingle pipeline fused onto a 1-task scan at 500k docs)
    val hashed = Spread.forKernel(df.select(idCol.as("id"),
        textCol.as("_t")))
      .select(col("id"),
        graft.plans.HashedShingles.shingleHashes(col("_t"), n, 4).as("hv"))
    hashed.select(col("id"),
        minhashFromHashes(col("hv"), numHashes).as("sig"))
      .select(col("id"),
        posexplode(bandKeys(col("sig"), bands, rPerBand))
          .as(Seq("band_idx", "band_key")))
  }

  /** Bucket-grouped pair generation over a band-row relation — shared by
    * the one-shot and bucketed-table entry points. Cost is Σ bucket² in
    * *pairs emitted*, not in recomputed hashes.
    *
    * `pinWidth` (one-shot path only): fixed-N repartition on the band
    * key before the groupBy, so the pair-EMISSION stage keeps full
    * cluster width — AQE sizes the groupBy exchange by its input bytes,
    * but emission output is Σ bucket², quadratically larger (the
    * jaccardPairs rule, measured round 7). The bucketed-table path MUST
    * NOT pin: its whole point is that the pre-bucketed scan plans no
    * exchange at all (PlanSpec-asserted).
    *
    * `maxBucket` valves hot buckets (a bucket of size B emits ~B²/2
    * pairs — on a dup-heavy corpus Σ cluster² is the entire cost, the
    * sf10 soak's 175M-pair q_minhash_est run); capped buckets are
    * EXCLUDED and surfaced by [[lshOversizedBuckets]] — an audited
    * decision, never silent truncation (the embedLshNearDupPairs /
    * hammingPairs contract). */
  private def pairsFromBandRows(rows: DataFrame,
                                pinWidth: Boolean = false,
                                maxBucket: Int = Int.MaxValue): DataFrame =
    (if (pinWidth)
       rows.repartition(
         rows.sparkSession.sessionState.conf.numShufflePartitions,
         col("band_idx"), col("band_key"))
     else rows)
      .groupBy(col("band_idx"), col("band_key"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1 &&
        (if (maxBucket == Int.MaxValue) lit(true)
         else size(col("ids")) <= maxBucket))
      .select(explode(pairArray(col("ids"))).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .distinct()

  /** MinHash-LSH candidate pairs (id1 < id2, distinct).
    *
    * Shape: signature map-side (one md5 pass + arithmetic), ONE shuffle of
    * the exploded (band_idx, band_key) rows, then bucket-local pair
    * generation from the grouped id list — the signature pipeline runs
    * exactly once (a bucket self-join would recompute it per side), and
    * cost is Σ bucket² in *pairs emitted*, not in recomputed hashes.
    * `maxBucket` is the hot-bucket valve (audited via
    * [[lshOversizedBuckets]]): on a dup-heavy corpus where every band
    * bucket is one giant near-dup cluster, the bound is what keeps the
    * emission linear instead of Σ cluster²; the exactDedup-first
    * pipeline rule makes real buckets small, so a finite cap is a
    * no-op there. */
  def lshCandidatePairs(df: DataFrame, idCol: Column, textCol: Column,
                        n: Int = 3, numHashes: Int = 8,
                        bands: Int = 4,
                        maxBucket: Int = Int.MaxValue): DataFrame =
    pairsFromBandRows(bandRows(df, idCol, textCol, n, numHashes, bands),
      pinWidth = true, maxBucket = maxBucket)

  /** The band buckets [[lshCandidatePairs]] dropped under its
    * `maxBucket` cap — run alongside the pair query so a cap is always
    * an audited decision (the [[jaccardOversizedBlocks]] contract). */
  def lshOversizedBuckets(df: DataFrame, idCol: Column, textCol: Column,
                          n: Int = 3, numHashes: Int = 8, bands: Int = 4,
                          maxBucket: Int = Int.MaxValue): DataFrame =
    bandRows(df, idCol, textCol, n, numHashes, bands)
      .groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)

  /** Persist the minhash band index BUCKETED (and sorted) by the band
    * key — the [[graft.sources.Bucketing]] pattern applied to the dedup
    * family's recurring shuffle. Every later near-dedup pass over the
    * same corpus (the common case: dedup re-runs per ingest wave) then
    * reads pre-shuffled buckets instead of re-hashing and re-shuffling
    * n·bands rows: [[lshPairsFromBandTable]] plans NO Exchange before
    * pair emission, and [[lshPairsAgainstBandTable]] shuffles only the
    * (small) incoming batch. At 100 TB the one-time layout cost replaces
    * the dominant repeated shuffle — same argument as the fact-table
    * bucketing, asserted in PlanSpec. */
  def writeBandTable(df: DataFrame, idCol: Column, textCol: Column,
                     table: String, n: Int = 3, numHashes: Int = 8,
                     bands: Int = 4, buckets: Int = 32): Unit =
    bandRows(df, idCol, textCol, n, numHashes, bands)
      .write.mode("overwrite")
      .bucketBy(buckets, "band_idx", "band_key")
      .sortBy("band_idx", "band_key")
      .saveAsTable(table)

  /** [[lshCandidatePairs]] served from a persisted band table: the
    * groupBy runs bucket-local (the bucketed scan already provides the
    * (band_idx, band_key) hash distribution), so the only Exchange in
    * the plan is the final pair distinct. Output is IDENTICAL to the
    * one-shot operator over the same corpus (same oracle). */
  def lshPairsFromBandTable(spark: org.apache.spark.sql.SparkSession,
                            table: String,
                            maxBucket: Int = Int.MaxValue): DataFrame =
    pairsFromBandRows(spark.table(table), maxBucket = maxBucket)

  /** Recurring-ingest candidate pairs: an incoming batch against the
    * stored corpus band table PLUS the batch's own internal pairs —
    * an ingest wave containing two near-identical new docs must flag
    * them even when neither resembles the stored corpus, or the dup
    * slips through and poisons every future wave. Only the batch side
    * is hashed and shuffled (its band rows are batch-sized, and both
    * the join and the intra-batch grouping reuse ONE computation of
    * them); the stored side reads its buckets in place. Emits
    * (id1 < id2) drawn from either side, distinct. */
  def lshPairsAgainstBandTable(spark: org.apache.spark.sql.SparkSession,
                               table: String, newDocs: DataFrame,
                               idCol: Column, textCol: Column,
                               n: Int = 3, numHashes: Int = 8,
                               bands: Int = 4): DataFrame = {
    val newRows = bandRows(newDocs, idCol, textCol, n, numHashes, bands)
    val vsStored = spark.table(table)
      .join(newRows.withColumnRenamed("id", "new_id"),
        Seq("band_idx", "band_key"))
      .filter(col("id") =!= col("new_id"))
      .select(least(col("id"), col("new_id")).as("id1"),
        greatest(col("id"), col("new_id")).as("id2"))
    vsStored.unionByName(pairsFromBandRows(newRows)).distinct()
  }

  /** MinHash-ESTIMATED Jaccard over the LSH candidate pairs — scoring
    * from signatures alone: est = |matching slots| / numHashes (the
    * unbiased MinHash estimator, Broder 1997). The 100 TB scoring form:
    * exact rescoring fetches full shingle sets (KBs per doc); this
    * fetches numHashes longs per doc regardless of document length, so
    * the scoring join ships a fixed 8·numHashes bytes/row and the
    * per-pair work is a numHashes-slot compare. Exact [[jaccardLsh]]
    * stays the precision form; est/exact trade is ±1/numHashes
    * quantization. m/numHashes is exact binary arithmetic at
    * power-of-two numHashes — hash-oracle-able unrounded. */
  def minhashJaccardEst(df: DataFrame, idCol: Column, textCol: Column,
                        n: Int = 3, numHashes: Int = 8,
                        bands: Int = 4,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    val pairs = lshCandidatePairs(df, idCol, textCol, n, numHashes, bands,
      maxBucket)
    val sigs = Spread.forKernel(df.select(idCol.as("id"), textCol.as("_t")))
      .select(col("id"), minhashFromHashes(
        graft.plans.HashedShingles.shingleHashes(col("_t"), n, 4),
        numHashes).as("sig"))
    // linear fetch joins, unpinned (the jaccardLsh rule)
    pairs
      .join(sigs.select(col("id").as("id1"), col("sig").as("sig1")), "id1")
      .join(sigs.select(col("id").as("id2"), col("sig").as("sig2")), "id2")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig1"), col("sig2"), (a, b) => a === b),
          x => x)).cast("double") / numHashes)
      .select(col("id1"), col("id2"), col("est_jaccard"))
  }

  // ---- SimHash --------------------------------------------------------

  /** 16-bit SimHash over the token stream (frequency-weighted: repeated
    * tokens vote repeatedly). Bit b is 1 iff Σ_tokens (bit_b(h16) ? +1 : -1)
    * is > 0 — near-identical token multisets get near-identical prints
    * (Hamming distance ≈ edit volume). */
  def simhash16(textCol: Column): Column =
    graft.plans.SimHash16.simhash16Native(textCol)

  /** Declarative reference formulation of [[simhash16]] (slower: O(tokens ×
    * 16) interpreted dispatches) — kept as the executable specification,
    * parity-enforced in DedupSpec. Single pass over the token hashes,
    * accumulating all 16 bit-sums in an array; bit_b(h) = floor(h / 2^b) % 2
    * in doubles: h < 2^16 and 2^b are dyadic, so the quotient is exactly
    * representable — portable to engines without column shift operators. */
  def simhash16Hof(textCol: Column): Column = {
    val hashes = graft.plans.HashedShingles.tokenHashes16(textCol)
    val bitIdx = sequence(lit(0), lit(15))
    val sums = aggregate(hashes, array_repeat(lit(0L), 16), (acc, h) =>
      zip_with(acc, bitIdx, (a, b) =>
        a + when(floor(h.cast("double") / pow(lit(2.0), b.cast("double")))
          .cast("bigint") % 2 === 1, 1L).otherwise(-1L)))
    aggregate(
      zip_with(sums, bitIdx, (s, b) =>
        when(s > 0, pow(lit(2.0), b.cast("double"))).otherwise(lit(0.0))),
      lit(0.0), (acc, v) => acc + v).cast("bigint")
  }

  /** Pigeonhole-blocked Hamming-distance pair join over an integer
    * fingerprint — the simhash near-dup JOIN (Manku, Jain & Das Sarma,
    * WWW'07): split the `bits`-bit print into `maxHamming + 1`
    * contiguous blocks; any pair within Hamming distance `maxHamming`
    * differs in ≤ maxHamming blocks, so it agrees EXACTLY on at least
    * one block (pigeonhole). Candidate generation is therefore
    * maxHamming+1 bucket self-joins on (blockIdx, blockValue) — cost
    * Σ bucket², never corpus² — and the exact `bit_count(xor)` filter
    * keeps only true hits, so blocking cannot affect the result set,
    * only the work. Scale shape: one map-side block explode
    * ((maxHamming+1)× row growth, ~12 B/row), ONE fixed-N repartition
    * on the bucket key (quadratic-OUTPUT stage — the fixed-N pin rule;
    * AQE would coalesce by input bytes), bucket self-join, distinct on
    * the pair. With a 64-bit production print and 4 blocks this is
    * exactly the WWW'07 table layout; the 16-bit [[simhash16]] print
    * used by the declared key shrinks only the value space, not the
    * plan. `maxBucket` valves hot buckets (a popular fingerprint block
    * is the whole quadratic term); capped buckets are EXCLUDED here and
    * surfaced by [[hammingOversizedBuckets]] — an audited decision,
    * never silent truncation. */
  def hammingPairs(df: DataFrame, idCol: Column, fpCol: Column,
                   bits: Int = 16, maxHamming: Int = 2,
                   maxBucket: Int = Int.MaxValue): DataFrame =
    pairsFromBlockRows(
      fingerprintBlockRows(df, idCol, fpCol, bits, maxHamming),
      maxHamming, maxBucket, pinWidth = true)

  /** Contiguous pigeonhole block layout: remainder bits go to the FIRST
    * blocks (widths e.g. 16/3 → [6,5,5]); offsets are the running sum. */
  private[graft] def blockVals(fp: Column, bits: Int, maxHamming: Int): Column = {
    val nBlocks = maxHamming + 1
    require(bits >= nBlocks, s"need >= $nBlocks bits for $nBlocks blocks")
    val widths = Array.tabulate(nBlocks)(i =>
      bits / nBlocks + (if (i < bits % nBlocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    array((0 until nBlocks).map { i =>
      shiftright(fp, offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    }: _*)
  }

  /** The exploded (id, fp, bi, bv) block relation every Hamming join
    * groups or joins on — the PERSISTABLE form of the simhash index
    * (see [[writeFingerprintTable]]). Map-side: maxHamming+1 rows of
    * ~20 B per doc. */
  def fingerprintBlockRows(df: DataFrame, idCol: Column, fpCol: Column,
                           bits: Int, maxHamming: Int): DataFrame =
    df.select(idCol.as("id"), fpCol.as("fp"))
      .select(col("id"), col("fp"),
        posexplode(blockVals(col("fp"), bits, maxHamming))
          .as(Seq("bi", "bv")))

  /** Bucket self-join pair generation over a block-row relation —
    * shared by the one-shot and table-served entry points. `pinWidth`
    * (one-shot path only): fixed-N repartition on the bucket key ahead
    * of the quadratic-OUTPUT self-join (the jaccardPairs rule); the
    * bucketed-table path must NOT pin — its point is that the
    * pre-bucketed scan plans no exchange before pair emission. */
  private def pairsFromBlockRows(blocks: DataFrame, maxHamming: Int,
                                 maxBucket: Int,
                                 pinWidth: Boolean): DataFrame = {
    // hot-bucket valve as a broadcast semi join on the (bi, bv) count
    // frame (bounded by nBlocks * 2^maxWidth distinct buckets — tiny
    // next to the corpus); the jaccardPairs gate pattern
    val gated =
      if (maxBucket == Int.MaxValue) blocks
      else blocks.join(
        broadcast(blocks.groupBy(col("bi"), col("bv"))
          .agg(count(lit(1)).as("_bn"))
          .filter(col("_bn") <= maxBucket)
          .drop("_bn")),
        Seq("bi", "bv"), "left_semi")
    val distributed =
      if (pinWidth)
        gated.repartition(
          blocks.sparkSession.sessionState.conf.numShufflePartitions,
          col("bi"), col("bv"))
      else gated
    distributed.as("a")
      .join(distributed.as("b").hint("merge"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .withColumn("hamming",
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.id").as("id1"), col("b.id").as("id2"), col("hamming"))
      .distinct()
  }

  /** Persist the fingerprint block index BUCKETED (and sorted) by the
    * bucket key — [[writeBandTable]]'s recurring-dedup layout applied
    * to the simhash family: every later Hamming-dedup pass over the
    * same corpus reads pre-shuffled buckets instead of re-hashing and
    * re-shuffling corpus × (maxHamming+1) rows. */
  def writeFingerprintTable(df: DataFrame, idCol: Column, fpCol: Column,
                            table: String, bits: Int = 16,
                            maxHamming: Int = 2, buckets: Int = 32): Unit =
    fingerprintBlockRows(df, idCol, fpCol, bits, maxHamming)
      .write.mode("overwrite")
      .bucketBy(buckets, "bi", "bv")
      .sortBy("bi", "bv")
      .saveAsTable(table)

  /** [[hammingPairs]] served from a persisted fingerprint table: the
    * self-join rides the bucketed scan's hash distribution, so pair
    * emission plans no fresh corpus shuffle. Output is IDENTICAL to
    * the one-shot operator over the same corpus (same oracle). */
  def hammingPairsFromFingerprintTable(spark: org.apache.spark.sql.SparkSession,
                                       table: String, maxHamming: Int = 2,
                                       maxBucket: Int = Int.MaxValue)
      : DataFrame =
    pairsFromBlockRows(spark.table(table), maxHamming, maxBucket,
      pinWidth = false)

  /** Recurring-ingest Hamming pairs: an incoming batch against the
    * stored fingerprint table PLUS the batch's own internal pairs (the
    * [[lshPairsAgainstBandTable]] contract — two near-identical docs
    * in one wave must flag even when neither resembles the store).
    * Only the batch is fingerprint-exploded and shuffled; the stored
    * side reads its buckets in place. */
  def hammingPairsAgainstFingerprintTable(
      spark: org.apache.spark.sql.SparkSession, table: String,
      newDocs: DataFrame, idCol: Column, fpCol: Column,
      bits: Int = 16, maxHamming: Int = 2): DataFrame = {
    val newRows = fingerprintBlockRows(newDocs, idCol, fpCol, bits,
      maxHamming)
    val vsStored = spark.table(table)
      .join(newRows.select(col("bi"), col("bv"), col("id").as("new_id"),
        col("fp").as("new_fp")), Seq("bi", "bv"))
      .filter(col("id") =!= col("new_id"))
      .withColumn("hamming",
        bit_count(col("fp").bitwiseXOR(col("new_fp"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("id"), col("new_id")).as("id1"),
        greatest(col("id"), col("new_id")).as("id2"), col("hamming"))
    vsStored
      .unionByName(pairsFromBlockRows(newRows, maxHamming, Int.MaxValue,
        pinWidth = true))
      .distinct()
  }

  /** The buckets [[hammingPairs]] dropped under its `maxBucket` cap —
    * run alongside the pair query so a cap is always an audited
    * decision (the [[jaccardOversizedBlocks]] contract). */
  def hammingOversizedBuckets(df: DataFrame, idCol: Column, fpCol: Column,
                              bits: Int, maxHamming: Int,
                              maxBucket: Int): DataFrame =
    fingerprintBlockRows(df, idCol, fpCol, bits, maxHamming)
      .groupBy(col("bi"), col("bv")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)

  // ---- n-gram Jaccard -------------------------------------------------

  /** Blocked pairwise Jaccard over distinct *hashed* word n-gram shingle
    * sets: shingles are md5-derived 32-bit ints, so the per-pair
    * `array_intersect` hashes/compares longs instead of ~25-char strings
    * and the shuffle ships 8 B per shingle. (An inverted-index
    * formulation — join on (block, shingle) — loses on repetitive corpora
    * where hot shingles make Σ bucket² explode; the blocked pair join is
    * bounded by the block size by construction.) `blockCols` bounds the
    * quadratic term — metadata here; swap in LSH buckets ([[jaccardLsh]])
    * at scale. MEASURED (graft.Soak, BASELINE.md round 3): at 50k docs in
    * 50 metadata blocks this is 294 s (25M scored pairs — quadratic in
    * block size) vs 4.5 s for [[jaccardLsh]] on the identical corpus. */
  def jaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
                   blockCols: Seq[String], n: Int = 3,
                   threshold: Double = 0.2,
                   maxBlock: Int = Int.MaxValue): DataFrame = {
    // maxBlock is the hot-block valve (the embedLshNearDupPairs maxBucket
    // pattern): a block of size B pays ~B²/2 scored pairs, and metadata
    // blocking has NO size bound — one hot (lang, source) block is the
    // whole quadratic term (measured, graft.Soak: 50k docs in 50 blocks =
    // 294 s; the LSH twin 4.5 s). Blocks past the cap are EXCLUDED here
    // and surfaced by [[jaccardOversizedBlocks]] (same params) — a cap is
    // an AUDITED decision, never silent truncation; oversized blocks
    // route to [[jaccardLsh]], whose bucket sizes are probability-bounded
    // regardless of corpus skew.
    val sh = Spread.forKernel(
        df.select(idCol.as("id") +: blockCols.map(col) :+
          textCol.as("_t"): _*))
      .select(col("id") +: blockCols.map(col) :+
        array_distinct(
          graft.plans.HashedShingles.shingleHashes(col("_t"), n, 8))
          .as("sh"): _*)
    // block-count gate as a BROADCAST anti join on the OVERSIZED
    // complement: the per-block count aggregate is map-side-partial into
    // a blocks-sized frame, and only blocks past the cap are broadcast —
    // that side is bounded above by corpus/maxBlock (it IS the
    // [[jaccardOversizedBlocks]] audit frame), where the kept side would
    // be O(distinct blocks) = corpus-linear, a driver-killing forced
    // broadcast at 100 TB. A window count would sort the whole corpus by
    // block first; this gates map-side against a handful of hot keys.
    // null block keys are dropped BEFORE the gate: an anti join cannot
    // match a NULL build key, so post-flip they would survive the gate,
    // ride the fixed-N repartition, and only then be null-rejected by
    // the pair join's equi condition — wasted shuffle if a large
    // null-metadata block exists at scale (round-12 ADVICE).
    val nonNull = sh.filter(
      blockCols.map(col(_).isNotNull).reduce(_ && _))
    val gated =
      if (maxBlock == Int.MaxValue) nonNull
      else nonNull.join(
        broadcast(df.groupBy(blockCols.map(col): _*)
          .agg(count(lit(1)).as("_bn"))
          .filter(col("_bn") > maxBlock)
          .drop("_bn")),
        blockCols, "left_anti")
    val cond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a.id") < col("b.id")
    // EXPLICIT fixed-N repartition on the block key: AQE sizes
    // post-shuffle partitions by the join's INPUT bytes, but a blocked
    // pair join's OUTPUT is quadratic in its input — at sf1 the
    // coalesced exchange serialized 5.5M per-pair array_intersects onto
    // 2 cores (519 s; measured round 7, BASELINE.md). A user repartition
    // with an explicit count is never coalesced, so the quadratic stage
    // keeps full cluster width. HashPartitioning(blockCols, N) satisfies
    // the join's clustering requirement — no extra exchange is added.
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val distributed = gated.repartition(nPart, blockCols.map(col): _*)
    // merge hint: a broadcast self-join would compute the expensive shingle
    // pipeline independently per side; as a sort-merge join both sides
    // produce the IDENTICAL shuffle, which AQE dedups via ReusedExchange —
    // the pipeline runs once (measured 3.2× end-to-end)
    distributed.as("a").join(distributed.as("b").hint("merge"), cond)
      .withColumn("inter",
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("double"))
      .withColumn("uni",
        (size(col("a.sh")) + size(col("b.sh"))).cast("double") - col("inter"))
      .withColumn("jaccard", floorRound6(col("inter") / col("uni")))
      .filter(col("jaccard") >= threshold)
      .select(col("a.id").as("id1"), col("b.id").as("id2"), col("jaccard"))
  }

  /** The blocks [[jaccardPairs]] dropped under its `maxBlock` cap:
    * (blockCols..., n) — run alongside the pair query so a cap is always
    * an audited decision (the [[embedLshOversizedBuckets]] contract). */
  def jaccardOversizedBlocks(df: DataFrame, idCol: Column,
                             blockCols: Seq[String],
                             maxBlock: Int): DataFrame =
    df.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("n")) // same aggregate as the gate: count(idCol)
      .filter(col("n") > maxBlock) // would skip null ids and under-report


  /** LSH-bucketed n-gram Jaccard — [[lshCandidatePairs]] blocking composed
    * with the exact Jaccard scorer. The corpus-independent scale form of
    * [[jaccardPairs]]: metadata blocking degrades to a hot block's n²
    * (one giant (lang, source) block pays its full quadratic term), while
    * LSH bucket sizes are bounded by band-key collision probability
    * regardless of how the corpus skews. Candidate pairs join BACK to the
    * per-doc distinct shingle-hash sets (two equi joins on the id — the
    * pair side is ≪ corpus, so the quadratic work is |candidate pairs|,
    * and the LSH recall guarantee bounds what exact scoring can miss).
    * MEASURED (graft.Soak): 4.5 s at 50k unique docs vs 294 s for the
    * metadata-blocked form — near-linear where blocking is quadratic.
    * On dup-HEAVY corpora run [[exactDedup]] first: pair emission itself
    * is Σ cluster² (196 s on a ~60-copies-per-text 50k corpus). */
  def jaccardLsh(df: DataFrame, idCol: Column, textCol: Column,
                 n: Int = 3, numHashes: Int = 8, bands: Int = 4,
                 threshold: Double = 0.2,
                 maxBucket: Int = Int.MaxValue): DataFrame = {
    val pairs = lshCandidatePairs(df, idCol, textCol, n, numHashes, bands,
      maxBucket)
    val sh = Spread.forKernel(df.select(idCol.as("id"), textCol.as("_t")))
      .select(col("id"),
        array_distinct(
          graft.plans.HashedShingles.shingleHashes(col("_t"), n, 8))
          .as("sh"))
    // The fetch joins are deliberately UNPINNED — the jaccardPairs
    // fixed-N rule applies to QUADRATIC-output stages, and this one is
    // linear: each candidate pair is scored exactly once, so output ≈
    // input and AQE's input-byte sizing is an honest estimate. The
    // quadratic stage (bucket pair EMISSION, Σ bucket²) already carries
    // its pin inside [[lshCandidatePairs]], and when AQE broadcasts the
    // doc-side shingle sets the scoring fuses into that pinned stage —
    // full width with zero extra exchanges. Round-7 pinned both fetch
    // distributions too; measured (round 8): the pins forced a pairs
    // shuffle + broadcast and an extra exchange for nothing — removing
    // them is 1.6→1.1 s at sf0.1 and 6.3→4.5 s at sf1 steady-state,
    // identical output. Past broadcast scale the joins become shuffle
    // joins on the id — the co-partitioned shape a corpus-wide fetch
    // wants.
    pairs
      .join(sh.select(col("id").as("id1"), col("sh").as("sh1")), "id1")
      .join(sh.select(col("id").as("id2"), col("sh").as("sh2")), "id2")
      .withColumn("inter",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("uni",
        (size(col("sh1")) + size(col("sh2"))).cast("double") - col("inter"))
      .withColumn("jaccard", floorRound6(col("inter") / col("uni")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Containment near-dup pairs — the overlap coefficient
    * |A∩B| / min(|A|,|B|) over distinct hashed word n-gram shingle sets
    * (Broder 1997's containment, symmetrized to the smaller side): the
    * size-skew complement to Jaccard. A 50-shingle doc fully quoted
    * inside a 5000-shingle doc has Jaccard ≈ 0.01 (invisible to every
    * resemblance key) but overlap 1.0 — the quote/wrapper/boilerplate-
    * expansion case a curation pipeline actually wants to catch.
    *
    * Blocking is a df-valved inverted index on the shingle hash: a
    * shingle shared by ≤ maxDf docs emits C(df,2) candidate pairs from
    * its grouped posting list (Σ C(df,2) total — the SimJoin bound);
    * shingles past the valve are stopword-grade boilerplate carrying no
    * containment evidence of their own and are EXCLUDED (audit:
    * [[containmentOversizedShingles]] — a pair sharing ONLY valved
    * shingles is missed by construction, the documented trade).
    *
    * Candidates are COUNT-BOUND PRUNED before the exact fetch (a
    * physical rewrite with identical output, the q_bloom_join
    * pattern): the pair groupBy's multiplicity IS the pair's
    * shared-unvalved-shingle count, and true |A∩B| ≤ that count + min(valved-shingle counts of
    * the two docs), so any pair whose bound falls below
    * threshold·min(|A|,|B|) cannot pass the final filter (floorRound6
    * only rounds DOWN) and is dropped without fetching its sets —
    * measured at sf0.1, 1.27M emitted candidates collapse to the
    * handful that can actually pass 0.8. Exact overlap is then scored
    * on the full shingle sets via linear fetch joins over the
    * survivors (UNPINNED — the jaccardLsh rule: only the pair-emission
    * groupBy is quadratic-output and carries the fixed-N pin). */
  def containmentPairs(df: DataFrame, idCol: Column, textCol: Column,
                       n: Int = 3, maxDf: Int = 64,
                       threshold: Double = 0.8): DataFrame = {
    val sh = Spread.forKernel(df.select(idCol.as("id"), textCol.as("_t")))
      .select(col("id"),
        array_distinct(
          graft.plans.HashedShingles.shingleHashes(col("_t"), n, 8))
          .as("sh"))
    val postings = sh.select(col("id"), size(col("sh")).as("nsh"),
      explode(col("sh")).as("h"))
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    // one grouped posting frame feeds pair emission AND the per-doc
    // valved-shingle counts (identical exchange subtree — reused)
    val grouped = postings.repartition(nPart, col("h"))
      .groupBy(col("h"))
      .agg(sort_array(collect_list(struct(col("id"), col("nsh"))))
        .as("ids"))
    // docs touched by valved shingles, with how many each: the prune
    // bound's slack for shared shingles the candidate stage can't see
    val valvedCnt = grouped.filter(size(col("ids")) > maxDf)
      .select(explode(col("ids")).as("v"))
      .groupBy(col("v.id").as("vid")).agg(count(lit(1)).as("vc"))
    val cand = grouped
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxDf)
      .select(explode(pairArray(col("ids"))).as("p"))
      .groupBy(col("p.id1.id").as("id1"), col("p.id1.nsh").as("n1"),
        col("p.id2.id").as("id2"), col("p.id2.nsh").as("n2"))
      .agg(count(lit(1)).as("shared"))
    val pruned = cand
      .join(valvedCnt.select(col("vid").as("id1"), col("vc").as("v1")),
        Seq("id1"), "left")
      .join(valvedCnt.select(col("vid").as("id2"), col("vc").as("v2")),
        Seq("id2"), "left")
      // EXACTLY the final filter's expression shape over the upper
      // bound: bound >= inter and IEEE division/floorRound6 are
      // monotone in the numerator, so no true survivor can be pruned
      .filter(floorRound6(
        (col("shared") + least(coalesce(col("v1"), lit(0L)),
          coalesce(col("v2"), lit(0L)))).cast("double") /
          least(col("n1"), col("n2")).cast("double")) >= threshold)
      .select(col("id1"), col("id2"))
    pruned
      .join(sh.select(col("id").as("id1"), col("sh").as("sh1")), "id1")
      .join(sh.select(col("id").as("id2"), col("sh").as("sh2")), "id2")
      .withColumn("inter",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("overlap", floorRound6(col("inter") /
        least(size(col("sh1")), size(col("sh2"))).cast("double")))
      .filter(col("overlap") >= threshold)
      .select(col("id1"), col("id2"), col("overlap"))
  }

  /** The shingles [[containmentPairs]] dropped under its `maxDf` valve —
    * run alongside the pair query so the valve is always an audited
    * decision (the [[jaccardOversizedBlocks]] contract). */
  def containmentOversizedShingles(df: DataFrame, idCol: Column,
                                   textCol: Column, n: Int,
                                   maxDf: Int): DataFrame =
    Spread.forKernel(df.select(idCol.as("id"), textCol.as("_t")))
      .select(col("id"),
        explode(array_distinct(
          graft.plans.HashedShingles.shingleHashes(col("_t"), n, 8)))
          .as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)

  // ---- connected components over the pair graph -----------------------

  /** Connected components over an undirected candidate-pair graph — the
    * actual KEEP decision for near-dup clusters (keep the min id per
    * component). Dropping `id2` of every pair over-keeps on chains the
    * banding didn't close transitively (pairs (2,5),(3,5) keep both 2
    * and 3; they are the same cluster): CC labels every member with the
    * component minimum.
    *
    * Min-label propagation: label(v) ← min(label(v), labels of v's
    * neighbors) until fixpoint (or `maxIters`). Each iteration is one
    * equi join + one min groupBy, both keyed on the id — the shape that
    * scales; `localCheckpoint` keeps the per-iteration plan flat.
    * Converges in O(component diameter) iterations — near-dup clusters
    * are shallow; for adversarially long chains the large-star/
    * small-star halving variant applies. Output: (id, component) for
    * every id appearing in ≥1 pair. */
  /** Flatten an iteration's lineage: a RELIABLE checkpoint (HDFS/object
    * store) when the caller has set `sparkContext.setCheckpointDir` —
    * executor loss mid-iteration then recovers from storage instead of
    * recomputing the whole chain, the option a 100 TB run wants — and
    * `localCheckpoint` (executor-local blocks, no IO) otherwise. Both
    * truncate the plan identically; DedupSpec asserts label parity
    * across the toggle. */
  private[graft] def checkpointed(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val edges = checkpointed(pairs
      .select(col("id1").cast("long").as("src"), col("id2").cast("long").as("dst"))
      .unionByName(pairs.select(col("id2").cast("long").as("src"),
        col("id1").cast("long").as("dst")))
      .distinct())
    var labels = checkpointed(edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")))
    // labels only ever DECREASE (min of a set containing the old value),
    // so the fixpoint test is "sum of labels unchanged" — one tiny
    // aggregate instead of a frame-vs-frame diff join per iteration
    // coalesce to 0: sum over an EMPTY label table is NULL, and the pair
    // input CAN be empty — a fully-valved LSH round (the sf10 100×-
    // replication regime) produces zero candidate pairs (caught by the
    // round-12 full-inventory sf10 verify: NPE on the null sum)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("comp").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")))
        .head().getDecimal(0)
    var prevSum = labelSum(labels)
    var it = 0
    var changed = true
    while (changed && it < maxIters) {
      // shuffle_hash on BOTH sides: neither the edge set nor the label
      // table of a corpus-scale pair graph may ever broadcast — the
      // checkpointed frames carry estimate-grade stats, and a
      // statically-planned BroadcastExchange of a ~50M-edge set is a
      // driver collect that dies on maxResultSize (sf10 soak, measured:
      // 12 tasks / 1 GB). The equi join on the id is the scale shape.
      val fromNeighbors = edges.hint("shuffle_hash")
        .join(labels.withColumnRenamed("id", "dst").hint("shuffle_hash"),
          "dst")
        .select(col("src").as("id"), col("comp"))
      val next = checkpointed(labels.unionByName(fromNeighbors)
        .groupBy("id").agg(min("comp").as("comp")))
      val nextSum = labelSum(next)
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      labels = next
      it += 1
    }
    // labels still moving when the cap hits means the output clusters are
    // WRONG (chains longer than maxIters stay split) — callers making
    // keep/drop decisions must not get that silently
    if (changed) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters iterations " +
        "(component diameter exceeds the cap); raise maxIters or use " +
        "connectedComponentsStar for deep chains")
    labels.withColumnRenamed("comp", "component")
  }

  /** Star-contraction connected components — the deep-chain escape hatch
    * [[connectedComponents]]'s non-convergence error points at. Min-label
    * propagation needs O(component diameter) rounds (a 1,000-link chain
    * is 1,000 joins); the alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) converges in O(log² n) rounds regardless of diameter —
    * ~10 rounds for that same chain (asserted in DedupSpec).
    *
    * Per round, on the undirected edge set E:
    *  - LARGE-STAR: for every node u with neighborhood Γ(u), every
    *    strictly larger neighbor v > u re-points to
    *    m = min(Γ(u) ∪ {u}) — long tails fold onto local minima;
    *  - SMALL-STAR: orient edges toward the smaller endpoint; every
    *    node u re-points its not-larger neighbors (and itself) to
    *    m = min(N(u) ∪ {u}) — shallow trees flatten into stars.
    *
    * Both are one groupBy-min + one equi join on the node id — the same
    * shuffle shape as a min-label round, just O(log² n) of them instead
    * of O(diameter). Every emitted edge (m, v) has m strictly smaller,
    * so the fixpoint is a star forest rooted at each component's MINIMUM
    * id — bit-identical labels to [[connectedComponents]] (DedupSpec
    * asserts equality on shallow graphs; the declared q_dedup_components
    * hash is unchanged by construction).
    *
    * Fixpoint test: (count, Σ xxhash64(u,v)) of the canonical edge set —
    * one tiny aggregate per round, no frame-vs-frame anti-join. Output:
    * (id, component) for every id appearing in ≥1 pair, including
    * self-pair-only ids. */
  def connectedComponentsStar(pairs: DataFrame,
                              maxIters: Int = 40): DataFrame = {
    val ids = pairs.select(col("id1").cast("long").as("id"))
      .unionByName(pairs.select(col("id2").cast("long").as("id"))).distinct()
    var edges = checkpointed(pairs
      .select(least(col("id1"), col("id2")).cast("long").as("u"),
        greatest(col("id1"), col("id2")).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct())
    // Fixpoint test WITHOUT a confirming round: the contraction's
    // fixpoints are exactly the star forests rooted at component minima
    // (Kiveris et al.) — (a) no node is both a center (u side) and a
    // leaf (v side), AND (b) every leaf hangs under exactly ONE center
    // (a leaf shared by two centers, e.g. (2,5),(3,5), still merges
    // next round). Edges are distinct canonical u<v pairs, so a node's
    // leaf-side appearance count IS its center count. Testable on the
    // round's own output — where a changed-signature test needs one
    // extra full round to observe stability, this exits the moment the
    // forest forms. One node-keyed aggregate (map-side partials) + an
    // isEmpty probe.
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("u").as("n"), lit(1).as("c"), lit(0).as("l"))
        .unionByName(e.select(col("v").as("n"), lit(0).as("c"), lit(1).as("l")))
        .groupBy("n").agg(max("c").as("c"), max("l").as("l"),
          sum("l").as("ln"))
        .filter((col("c") === 1 && col("l") === 1) || col("ln") > 1)
        .isEmpty
    var it = 0
    // no PRE-loop forest check: star forests are exactly the
    // contraction's fixpoints (Kiveris et al.), so a round over an
    // already-converged forest re-emits it unchanged and the post-round
    // check exits — one harmless extra round in that (rare) case, where
    // the pre-check cost a full node-keyed aggregate job on EVERY
    // invocation of every component-consuming key
    var converged = false
    val byU = org.apache.spark.sql.expressions.Window.partitionBy("u")
    while (!converged && it < maxIters) {
      // each star's per-node min comes from a WINDOW over the node's
      // edge partition — one shuffle per star where groupBy + re-join
      // moved the same edges through the exchange twice (the join hashed
      // every hot node's edges into one task anyway, so the skew
      // exposure is unchanged; only the data movement halves)
      // large-star on the symmetric neighbor list
      val dir = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val large = dir
        .withColumn("m", least(col("u"), min("v").over(byU)))
        .filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v"))
        .filter(col("u") =!= col("v"))
      // small-star on edges oriented toward the smaller endpoint; the
      // u→m star edges ride along into the round-end distinct (duplicate
      // emissions are fine — distinct is the round's only dedup)
      val o = large.select(col("v").as("u"), col("u").as("v")) // u > v
        .withColumn("m", min("v").over(byU))
      val small = checkpointed(
        o.filter(col("v") =!= col("m"))
          .select(col("m").as("u"), col("v"))
          .unionByName(o.select(col("m").as("u"), col("u").as("v")))
          .filter(col("u") =!= col("v")).distinct())
      converged = isStarForest(small)
      edges = small
      it += 1
    }
    if (!converged && it >= maxIters) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIters rounds — " +
        "O(log^2 n) contraction should never need this many; inspect the " +
        "edge input for pathological structure")
    // fixpoint is a star forest rooted at component minima: non-roots
    // label from their star edge, roots (and self-pair-only ids) label
    // themselves
    ids.join(edges.select(col("v").as("id"), col("u").as("comp")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("component"))
  }

  /** Survivorship map for a keep-best near-dup dedup: every document
    * labeled with its duplicate component, the component's
    * REPRESENTATIVE (highest quality, ties to the smallest id), and
    * whether the document survives. Documents in no candidate pair
    * represent themselves.
    *
    * Scale shape: component labels come from the O(log² n) star
    * contraction ([[connectedComponentsStar]]); the representative is an
    * argmax AGGREGATE — min over a (−quality, id) struct, map-side
    * partials — joined back on the component key. A boilerplate
    * mega-cluster therefore costs a partial min, never a per-component
    * sort (the window form would sort the skewed partition). */
  def clusterRepresentatives(docs: DataFrame, idCol: Column,
      qualityCol: Column, pairs: DataFrame): DataFrame =
    clusterRepresentativesFromComponents(docs, idCol, qualityCol,
      connectedComponentsStar(pairs).withColumnRenamed("id", "doc_id"))

  /** [[clusterRepresentatives]] over PRE-COMPUTED component labels
    * (`comp`: (doc_id, component)) — the recurring-ingest form: labels
    * are a maintained corpus artifact (one star contraction per ingest
    * wave, shared by every survivorship/split/funnel consumer), not a
    * per-query recomputation. `docs` may be any subset of the labeled
    * corpus; representatives are the quality-argmax over the PRESENT
    * members of each component. */
  def clusterRepresentativesFromComponents(docs: DataFrame, idCol: Column,
      qualityCol: Column, comp: DataFrame): DataFrame = {
    val labeled = docs
      .select(idCol.cast("long").as("doc_id"), qualityCol.as("quality"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val reps = labeled.groupBy("component")
      .agg(min(struct((-col("quality")).as("nq"), col("doc_id").as("rid")))
        .as("m"))
      .select(col("component"), col("m.rid").as("rep_id"))
    labeled.join(reps, "component")
      .select(col("doc_id"), col("component"), col("rep_id"),
        (col("doc_id") === col("rep_id")).cast("int").as("is_rep"))
  }

  /** Exact-substring span removal (Lee et al. 2021, the C4 move): any
    * run of `n` consecutive tokens that appears more than once in the
    * corpus (across documents OR repeated within one) is a duplicated
    * span; every token covered by such a span is dropped and the
    * document is rebuilt from the survivors in order. Detection is the
    * winnowing family's shingle pass; this adds the REMOVAL half.
    *
    * Scale shape: one shuffle on a 64-bit shingle hash (xxhash64 —
    * INTERNAL-only, so the codegen'd fast hash applies and the oracle
    * groups the raw shingle strings instead; the round-5 md5-vs-xxhash
    * rule), a shuffle join back of the duplicated hash set, and one
    * per-doc regroup. Coverage expansion is array math inside the row
    * (a shingle covers [start, start+n)), never a row explosion × n.
    * A 64-bit collision would fuse two distinct shingles (~1e-8 at
    * millions of shingles) — detectable as an oracle mismatch, never
    * silent. Output: (doc_id, clean_text, n_tokens_kept,
    * n_tokens_removed) — oracled as `q_dedup_substring`. */
  def removeDuplicateSpans(df: DataFrame, idCol: Column, textCol: Column,
      n: Int = 10): DataFrame = {
    val toks = spanToks(df, idCol, textCol)
    val flat = spanShingles(df, idCol, textCol, n)
    // duplicate detection as ONE h-partitioned window count instead of
    // groupBy + join-back: the join colocated every hot hash's rows into
    // one task anyway, so the skew exposure is unchanged while the data
    // crosses the exchange once and the shingle subtree runs once (the
    // star-CC window-vs-regroup rule, round 5)
    val byH = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val covered = flat
      .withColumn("_c", count(lit(1)).over(byH))
      .filter(col("_c") > 1)
      .groupBy("doc_id")
      .agg(collect_list(col("start")).as("starts"))
    rebuildWithoutSpans(toks, covered, n)
  }

  /** Span-level benchmark decontamination (the actual C4/Lee et al.
    * scrub): the dup-hash set comes from a HELDOUT benchmark corpus
    * instead of self-counts — any `n`-token run of a corpus document
    * that also appears in the benchmark is removed, and the document
    * is kept with the contaminated span excised ([[contaminatedDocs]]
    * drops the whole document; this keeps the clean remainder, which
    * at pretraining scale is most of the tokens of a touched doc).
    *
    * Scale shape: the corpus side is [[removeDuplicateSpans]]'s
    * machinery unchanged (one doc-partitioned window shuffle, in-row
    * coverage math); the benchmark side is tiny by construction, so
    * its distinct span-hash set broadcasts into a left-semi join —
    * the corpus never shuffles on the hash at all (cheaper than the
    * self-dedup form, PlanSpec-asserted). Output schema matches
    * [[removeDuplicateSpans]]; oracled as `q_decontaminate_spans`. */
  def removeContaminatedSpans(df: DataFrame, idCol: Column,
      textCol: Column, benchmark: DataFrame, bIdCol: Column,
      bTextCol: Column, n: Int = 10): DataFrame = {
    val toks = spanToks(df, idCol, textCol)
    // explicit broadcast: the benchmark side is bounded by construction,
    // and without the hint a benchmark whose distinct-hash frame exceeds
    // the auto-broadcast threshold would silently degrade to a full
    // corpus shuffle on h — the exact plan shape this operator exists
    // to avoid (PlanSpec asserts no corpus exchange on the hash)
    val bad = broadcast(
      spanShingles(benchmark, bIdCol, bTextCol, n)
        .select("h").distinct())
    val covered = spanShingles(df, idCol, textCol, n)
      .join(bad, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_list(col("start")).as("starts"))
    rebuildWithoutSpans(toks, covered, n)
  }

  /** Tokenized (doc_id, tk) frame, spread past a single-row-group scan:
    * the shingle hashing and the per-token coverage filter are CPU-bound
    * work fused onto the scan. */
  private def spanToks(df: DataFrame, idCol: Column,
      textCol: Column): DataFrame =
    Spread.forKernel(df.select(idCol.as("doc_id"),
      textCol.as("_t"))).select(col("doc_id"), tokens(col("_t")).as("tk"))

  /** (doc_id, start, h): every full `n`-token window's 64-bit hash, via
    * the native [[graft.plans.SpanShingleHashes]] kernel — a pure
    * per-document function emitted from the scan projection, where the
    * lead-window form paid a posexplode + doc_id window shuffle-and-sort
    * per corpus side (guide §2.4). Docs shorter than n emit no windows. */
  private def spanShingles(df: DataFrame, idCol: Column, textCol: Column,
      n: Int): DataFrame =
    Spread.forKernel(df.select(idCol.as("doc_id"), textCol.as("_t")))
      .select(col("doc_id"),
        explode(graft.plans.SpanShingleHashes.spanHashes(col("_t"), n))
          .as("s"))
      .select(col("doc_id"), col("s.start").as("start"), col("s.h").as("h"))

  /** The former lead-window formulation of [[spanShingles]] — kept as
    * the declarative reference the native kernel is parity-tested
    * against (DedupSpec; the [[graft.plans.HashedShingles]] contract
    * pattern); not on any declared query path. NOT a
    * transform-into-explode HOF chain: the window/concat/xxhash path
    * stays in whole-stage codegen, where the interpreted
    * generator-over-struct-array form cost ~5 s of pure overhead at
    * sf0.1 (spanprobe). */
  private[graft] def spanShinglesWindowed(toks: DataFrame, n: Int): DataFrame = {
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
    toks
      .select(col("doc_id"), size(col("tk")).as("sz"),
        posexplode(col("tk")).as(Seq("p", "t")))
      .withColumn("h", xxhash64(concat_ws(" ",
        col("t") +: (1 until n).map(j => lead(col("t"), j).over(byPos)): _*)))
      .where(col("p") <= col("sz") - n)
      .select(col("doc_id"), col("p").as("start"), col("h"))
  }

  /** Rebuild each document from the tokens NOT covered by any flagged
    * span start — coverage expansion is array math inside the row (a
    * span covers [start, start+n)), never a row explosion × n. Output:
    * (doc_id, clean_text, n_tokens_kept, n_tokens_removed). */
  private def rebuildWithoutSpans(toks: DataFrame, covered: DataFrame,
      n: Int): DataFrame =
    toks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tk"),
        coalesce(col("starts"), expr("array()").cast("array<int>"))
          .as("starts"))
      .withColumn("kept",
        // token at position p (0-based) survives iff NO flagged
        // span start s covers it: s <= p < s + n. Size-guarded:
        // sequence(0, -1) on an empty token list would DESCEND.
        when(size(col("tk")) > 0,
          expr(s"filter(transform(sequence(0, size(tk) - 1), p -> " +
            s"struct(p AS p, tk[p] AS t)), x -> " +
            s"NOT exists(starts, s -> s <= x.p AND x.p < s + $n))"))
          .otherwise(expr("array()")
            .cast("array<struct<p:int,t:string>>")))
      .select(col("doc_id"),
        expr("array_join(transform(kept, x -> x.t), ' ')")
          .as("clean_text"),
        size(col("kept")).cast("long").as("n_tokens_kept"),
        (size(col("tk")) - size(col("kept"))).cast("long")
          .as("n_tokens_removed"))

  /** Cross-document LINE-level dedup (the CCNet/RefinedWeb line scrub):
    * a line whose exact text appears in at least `minDocs` DISTINCT
    * documents is boilerplate (nav bars, cookie banners, license
    * footers — the crawl artifacts paragraph- and doc-level dedup both
    * miss) and is removed from EVERY document; each document is rebuilt
    * from its surviving lines in original order.
    *
    * Scale shape: lines explode map-side off the scan; duplicate
    * detection is ONE uniform shuffle of 8-byte line hashes with
    * map-side partial distinct-doc counting (the q_boilerplate_shingles
    * shape at line granularity); flagged hashes join back on the same
    * hash distribution and the rebuild is one doc_id regroup carrying
    * (pos, line) structs — linear end to end, no pair stage, per-doc
    * state bounded by document length. xxhash64 keys internally; the
    * oracle groups RAW lines (the removeDuplicateSpans raw-shingle
    * pattern), so a hash collision would surface as a mismatch.
    * Output: (doc_id, clean_text, n_lines_kept, n_lines_removed). */
  def dedupLines(df: DataFrame, idCol: Column, textCol: Column,
                 minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = docLines(df, idCol, textCol)
    dedupLinesWith(lines, lineDocCounts(lines), minDocs)
  }

  /** [[dedupLines]] against a STORED (h, nd) line-count table instead of
    * counts computed from `df` itself — the recurring-ingest form: a new
    * batch is scrubbed under the WHOLE corpus' line statistics
    * (maintained incrementally by
    * [[graft.streaming.Streams.lineCountStream]]). Identical to
    * [[dedupLines]] when `counts` was derived from `df` itself
    * (StreamsSpec proves streamed counts ≡ batch counts bit-equal). */
  def dedupLinesAgainstCounts(df: DataFrame, idCol: Column,
      textCol: Column, counts: DataFrame, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    dedupLinesWith(docLines(df, idCol, textCol), counts, minDocs)
  }

  /** (doc_id, pos, line, h) — one row per physical line, hashed to the
    * 8-byte internal dedup key. Map-side off a spread scan. */
  def docLines(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    Spread.forKernel(
        df.select(idCol.as("doc_id"), textCol.as("_t")))
      .select(col("doc_id"),
        posexplode(split(col("_t"), "\n", -1)).as(Seq("pos", "line")))
      .withColumn("h", xxhash64(col("line")))

  /** (h, nd): DISTINCT-document count per line hash — ADDITIVE across
    * disjoint document batches (a doc arrives whole in one batch, so
    * per-batch distinct counts sum to the corpus count), which is what
    * makes the streaming maintainer a partial-partition lifecycle
    * rather than read-modify-write state. One uniform 8-byte shuffle
    * with map-side partials. */
  def lineDocCounts(lines: DataFrame): DataFrame =
    lines.groupBy("h").agg(count_distinct(col("doc_id")).as("nd"))

  private def dedupLinesWith(lines: DataFrame, counts: DataFrame,
      minDocs: Int): DataFrame = {
    val dup = counts.filter(col("nd") >= minDocs)
      .select(col("h"), lit(true).as("_dup"))
    lines.join(dup, Seq("h"), "left")
      .select(col("doc_id"),
        struct(col("pos"), col("line"),
          coalesce(col("_dup"), lit(false)).as("dup")).as("e"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("e"))).as("es"))
      .select(col("doc_id"),
        array_join(expr("transform(filter(es, x -> NOT x.dup), " +
          "x -> x.line)"), "\n").as("clean_text"),
        expr("size(filter(es, x -> NOT x.dup))").cast("long")
          .as("n_lines_kept"),
        expr("size(filter(es, x -> x.dup))").cast("long")
          .as("n_lines_removed"))
  }

  // ---- winnowing fingerprints -----------------------------------------

  /** MOSS-style winnowing fingerprints: the minimum 16-bit shingle hash
    * in every sliding window of `w` consecutive shingles, distinct per
    * doc. The winnowing guarantee (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * any shared token run of ≥ w+n−1 tokens yields ≥1 shared
    * fingerprint — robust partial-overlap detection with a bounded
    * fingerprint density, unlike whole-doc digests.
    *
    * Shape: entirely map-side. The window minima come from folding
    * `zip_with(acc, shifted-slice, least)` — the shingle-hash array is a
    * STAGED multi-referenced alias, so it computes once per row (an
    * `array_min(slice(hv, i, w))` lambda would re-evaluate the whole
    * hash pipeline per WINDOW — the interpreted-HOF trap). Output:
    * (doc_id, fp) exploded, distinct per doc. */
  def winnowedFingerprints(df: DataFrame, idCol: Column, textCol: Column,
                           n: Int = 3, w: Int = 4): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val staged = Spread.forKernel(df.select(idCol.as("doc_id"),
        textCol.as("_t")))
      .select(col("doc_id"),
        graft.plans.HashedShingles.shingleHashes(col("_t"), n, 4).as("_hv"))
    val hv = col("_hv")
    // mins(i) = min(hv(i..i+w-1)); zip_with pads the shorter side with
    // null and least() ignores nulls, so trailing partial windows carry
    // shorter spans — sliced away below (shorter docs keep one window)
    val mins = (1 until w).foldLeft(hv) { (acc, k) =>
      zip_with(acc, slice(hv, lit(k + 1), greatest(size(hv) - k, lit(0))),
        (a, b) => least(a, b))
    }
    staged.select(col("doc_id"),
      explode(array_distinct(
        slice(mins, lit(1), greatest(size(hv) - (w - 1), lit(1))))).as("fp"))
  }

  // ---- cross-doc boilerplate & benchmark decontamination --------------

  /** Per-doc distinct hashed shingles, exploded — the shared first stage
    * of the corpus-hygiene operators below. Map-side until the explode;
    * 8-hex md5 hashes (32-bit) so the shuffle ships longs, not strings. */
  private def explodedShingles(df: DataFrame, idCol: Column, textCol: Column,
                               n: Int): DataFrame =
    Spread.forKernel(df.select(idCol.as("doc_id"), textCol.as("_t")))
      .select(col("doc_id"),
        explode(array_distinct(
          graft.plans.HashedShingles.shingleHashes(col("_t"), n, 8)))
          .as("sh"))

  /** Cross-document boilerplate detection (the C4/RefinedWeb cleanse
    * step): word n-gram shingles appearing in ≥ `minDocs` DISTINCT docs.
    * Shape: shingle hashes map-side, per-doc `array_distinct` BEFORE the
    * explode (so a plain count IS the distinct-doc count — no
    * count(distinct) expansion), ONE shuffle on the uniform 32-bit
    * shingle hash with map-side partial counts. Output: (sh, n_docs). */
  def frequentShingles(df: DataFrame, idCol: Column, textCol: Column,
                       n: Int = 3, minDocs: Long = 5): DataFrame =
    explodedShingles(df, idCol, textCol, n)
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Within-document repetition ratio (the RefinedWeb/Gopher-style
    * quality signal): 1 − distinct/total word n-gram shingles — 0 for
    * fully novel text, →1 for looping/boilerplate text. Pure map-side
    * (shingle pipeline runs once; both counts come off the same array).
    * Output: (doc_id, n_grams, rep_ratio ∈ [0,1], floor-rounded 6). */
  def repetitionRatio(df: DataFrame, idCol: Column, textCol: Column,
                      n: Int = 3): DataFrame = {
    val sh = graft.plans.HashedShingles.shingleHashes(col("_t"), n, 8)
    Spread.forKernel(df.select(idCol.as("doc_id"), textCol.as("_t")))
      .select(col("doc_id"), sh.as("_sh"))
      .select(col("doc_id"), size(col("_sh")).as("n_grams"),
        floorRound6(lit(1.0) -
          size(array_distinct(col("_sh"))).cast("double") /
            size(col("_sh")).cast("double")).as("rep_ratio"))
  }

  /** Benchmark decontamination: ids of corpus docs sharing ANY word
    * n-gram shingle with the `benchmark` set (the pre-training hygiene
    * step that keeps eval data out of training data). Left semi join on
    * the shingle hash — no payload moves; the benchmark side is tiny by
    * construction, so Catalyst broadcasts it and the corpus side stays
    * map-side. Output: distinct contaminated doc_id. */
  def contaminatedDocs(df: DataFrame, idCol: Column, textCol: Column,
                       benchmark: DataFrame, bTextCol: Column,
                       n: Int = 3): DataFrame = {
    val b = benchmark.select(explode(array_distinct(
      graft.plans.HashedShingles.shingleHashes(bTextCol, n, 8))).as("sh"))
      .distinct()
    explodedShingles(df, idCol, textCol, n)
      .join(b, Seq("sh"), "left_semi")
      .select("doc_id").distinct()
  }

  /** GRADED contamination (the GPT-3 appendix-C methodology, Brown et
    * al. 2020; PaLM and Llama report the same statistic): where
    * [[contaminatedDocs]] flags any-shared-shingle binary overlap, this
    * reports the FRACTION of each corpus doc's DISTINCT word n-grams
    * that appear anywhere in the benchmark — the signal used to grade
    * dirty docs by severity and pick a removal threshold instead of
    * dropping on a single chance collision. Same shape as the binary
    * form: benchmark gram set deduped and BROADCAST (heldout-sized),
    * corpus grams hashed map-side, one shuffle for the per-doc ratio;
    * the fraction is an exact int/int IEEE division (both engines
    * agree bit-for-bit on counts < 2^53). */
  def contaminationFraction(df: DataFrame, idCol: Column, textCol: Column,
                            benchmark: DataFrame, bTextCol: Column,
                            n: Int = 3): DataFrame = {
    val b = benchmark.select(explode(array_distinct(
        graft.plans.HashedShingles.shingleHashes(bTextCol, n, 8))).as("sh"))
      .distinct().withColumn("hit", lit(1))
    explodedShingles(df, idCol, textCol, n)
      .join(broadcast(b), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("hit_grams"))
      .withColumn("contam_frac",
        col("hit_grams").cast("double") / col("n_grams").cast("double"))
  }

  // ---- embedding-cosine near-dup -------------------------------------

  /** Blocked pairwise cosine near-dup: pairs within the same `blockCol`
    * value (cluster/IVF cell) whose cosine ≥ threshold. The block key is
    * what makes this linear-ish instead of n² at scale. The interpreted
    * HOF cosine runs per PAIR — fine for oracle-scale blocks; use
    * [[cosineNearDupPairsNative]] when pair counts grow. */
  def cosineNearDupPairs(df: DataFrame, idCol: Column, vecCol: Column,
                         blockCol: Column, threshold: Double): DataFrame = {
    // fixed-N repartition on the block key — the jaccardPairs rule: the
    // pair join's output is quadratic in its input, so AQE's input-sized
    // coalescing would serialize the per-pair scoring onto few cores
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val v = df.select(idCol.as("id"), blockCol.as("blk"), vecCol.as("v"))
      .repartition(nPart, col("blk"))
    v.as("a").join(v.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("cos", floorRound6(cosine(col("a.v"), col("b.v"))))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id1"), col("b.id").as("id2"), col("cos"))
  }

  /** [[cosineNearDupPairs]] with the per-PAIR kernel in native code:
    * vectors are L2-normalized ONCE per row (O(rows) interpreted work,
    * with the norm carried via `array_repeat` so the lambda doesn't
    * re-evaluate it per element), then pair cosine = 1 − ‖â−b̂‖²/2
    * through the codegen'd squared-L2 kernel ([[graft.plans.L2Distance]]
    * via `l2SqNative` — no sqrt-then-square float detour, so an ANSI-SQL
    * oracle can replay the exact float path) — the O(pairs) side stays
    * compiled (measured 15.5 s → sub-second on 250k pairs at sf0.1).
    * Zero vectors produce NULL cosine and never pair. */
  def cosineNearDupPairsNative(df: DataFrame, idCol: Column, vecCol: Column,
                               blockCol: Column, threshold: Double)
      : DataFrame = {
    import graft.plans.NativeFunctions.l2SqNative
    val v = df
      .select(idCol.as("id"), blockCol.as("blk"),
        vecCol.cast("array<double>").as("_v"))
      .withColumn("_nrm",
        sqrt(aggregate(col("_v"), lit(0.0), (a, x) => a + x * x)))
      .withColumn("v", zip_with(col("_v"),
        array_repeat(when(col("_nrm") > 0, col("_nrm")), size(col("_v"))),
        (x, nn) => x / nn))
      .select(col("id"), col("blk"), col("v"))
      // fixed-N repartition: quadratic-output join, the jaccardPairs rule
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("blk"))
    v.as("a").join(v.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("cos", floorRound6(
        lit(1.0) - l2SqNative(col("a.v"), col("b.v")) / 2))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id1"), col("b.id").as("id2"), col("cos"))
  }

  // ---- random-hyperplane (cosine) LSH over embeddings -----------------

  /** Deterministic Rademacher hyperplanes: component (p, i) is ±1 by the
    * first hex digit of md5("plane:<p>:<i>") (p 0-based, i 1-based —
    * matching SQL list indexing). Reproducible by ANY engine with md5,
    * which is what lets [[embedLshNearDupPairs]] be hash-checked
    * end-to-end against DuckDB (q_embed_neardup_lsh) — the same
    * trick [[graft.functions.TextFunctions]] uses for token hashing. */
  def hyperplaneSigns(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    def hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until nPlanes).map(p => (1 to dim).map(i =>
      if (hex(s"plane:$p:$i").charAt(0) <= '7') 1.0 else -1.0))
  }

  /** HOF executable spec of the native [[graft.plans.HyperplaneBits]]
    * signature kernel — bit-parity-tested in DedupSpec, NOT on any
    * production path: nPlanes×dim interpreted lambda dispatches per row
    * (measured 6.3 s / 500 rows — the per-query budget gate caught it,
    * perf trap #1). */
  def hyperplaneBitsHof(vecCol: Column, nPlanes: Int, dim: Int,
                        center: Double): Column =
    array(hyperplaneSigns(nPlanes, dim).map(s =>
      when(aggregate(zip_with(vecCol.cast("array<double>"), typedlit(s),
        (x, sg) => (x - lit(center)) * sg), lit(0.0), (a, x) => a + x) >= 0,
        lit(1)).otherwise(lit(0))): _*)

  /** Hyperplane-LSH embedding near-dup — the metadata-free scale path
    * past [[cosineNearDupPairs]]'s blocking (whose quadratic term is
    * corpus-dependent: a hot block degrades to that block's n²). Here the
    * block key is the DATA ITSELF: bit p of a row's signature is the side
    * of hyperplane p its vector falls on (sign of Σᵢ (vᵢ−center)·±1), so
    * two vectors collide in a band exactly when they agree on all its
    * bits — P[collide] = (1−θ/π)^bandBits per band, a recall guarantee
    * that holds on ANY corpus distribution.
    *
    * Shape (the [[lshCandidatePairs]] template): signatures via the
    * native [[graft.plans.HyperplaneBits]] kernel and rows L2-normalized
    * once, all map-side; ONE shuffle of the exploded (band, band_key)
    * rows; bucket-local pair generation (Σ bucket², not n²); then two id
    * equi-joins fetch the normalized vectors and the codegen'd squared-L2
    * kernel scores candidates as cos = 1 − ‖â−b̂‖²/2 — a float path the
    * DuckDB oracle replays verbatim (q_embed_neardup_lsh is fully
    * hash-checked). `center` re-centers un-centered corpora (components
    * in [0,1] → center 0.5) so signature bits split evenly — uncentered
    * data collapses every row into a handful of buckets.
    *
    * SIZING RULE (100 TB): the band keyspace is FIXED at 2^bandBits keys
    * per band, so mean bucket size grows like n / 2^bandBits and the
    * candidate stage like Σ bucket² — bandBits must grow with log₂(n)
    * (bandBits ≳ log₂(n) − 8 keeps mean buckets ≤ ~256; recall per band
    * is p^bandBits, so add bands as bits grow). The 100× soak measured
    * the failure concretely: 2M rows over 2¹⁰ keys made a 64k-member
    * bucket whose pair array is 2×10⁹ structs in ONE grouped row — a
    * driver/executor OOM, not a slow query. `maxBucket` is the runtime
    * guard: oversized buckets are excluded (audited via
    * [[embedLshOversizedBuckets]]; an oracle replicating the gate still
    * hash-matches) — on dup-heavy corpora the pipeline answer is exact
    * dedup FIRST, then LSH over the distinct survivors. */
  /** (normalized vectors, grouped band buckets) shared by the pair and
    * audit views. */
  private def embedLshBuckets(df: DataFrame, idCol: Column, vecCol: Column,
                              nPlanes: Int, bandBits: Int, center: Double)
      : (DataFrame, DataFrame) = {
    require(nPlanes % bandBits == 0,
      s"nPlanes ($nPlanes) must be divisible by bandBits ($bandBits)")
    import graft.plans.HyperplaneBits.hyperplaneBitsNative
    val nBands = nPlanes / bandBits
    // normalize once per row, norm carried via array_repeat so the lambda
    // doesn't re-evaluate it per element (the cosineNearDupPairsNative rule)
    val v = df.select(idCol.as("id"), vecCol.cast("array<double>").as("_v"))
      .withColumn("_nrm",
        sqrt(aggregate(col("_v"), lit(0.0), (a, x) => a + x * x)))
      .withColumn("nv", zip_with(col("_v"),
        array_repeat(when(col("_nrm") > 0, col("_nrm")), size(col("_v"))),
        (x, nn) => x / nn))
      .withColumn("bits", hyperplaneBitsNative(col("_v"), nPlanes, center))
      .select(col("id"), col("nv"), col("bits"))
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band_idx"),
        concat((b * bandBits until (b + 1) * bandBits)
          .map(i => element_at(col("bits"), i + 1).cast("string")): _*)
          .as("band_key"))
    }
    val buckets = v
      .select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band_idx").as("band_idx"),
        col("bb.band_key").as("band_key"))
      // fixed-N pin: pair emission from the grouped buckets is
      // Σ bucket² — quadratically larger than this exchange's input, so
      // AQE's byte-sized coalescing must not narrow it (jaccardPairs rule)
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("band_idx"), col("band_key"))
      .groupBy(col("band_idx"), col("band_key"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    (v, buckets)
  }

  def embedLshNearDupPairs(df: DataFrame, idCol: Column, vecCol: Column,
                           threshold: Double, nPlanes: Int = 16,
                           bandBits: Int = 8, center: Double = 0.0,
                           maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.plans.NativeFunctions.l2SqNative
    val (v, buckets) = embedLshBuckets(df, idCol, vecCol, nPlanes, bandBits,
      center)
    // maxBucket is the hot-bucket valve: a bucket of size B means ~B²/2
    // candidate pairs EMITTED FROM ONE GROUPED ROW (one task) — on a
    // correlated corpus where most vectors are mutual near-dups the
    // output itself is quadratic (measured: 38% of a 20k soak corpus in
    // one bucket → 116 s, vs 3.7 s on near-uniform data), and no
    // downstream consumer wants 10⁸ pair rows anyway. Buckets past the
    // cap are EXCLUDED here and surfaced by [[embedLshOversizedBuckets]]
    // (same params) — audit what was dropped, never truncate silently;
    // the pipeline answer for such clusters is exact dedup first, then
    // connectedComponents over a sampled pair set (the dup-heavy Jaccard
    // lesson in BASELINE.md).
    val cand = buckets
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(pairArray(col("ids"))).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .distinct()
      // fixed-N fan-out before the vector-fetch joins (jaccardLsh rule):
      // slim pair rows would be AQE-coalesced and the per-pair squared-L2
      // scoring serialized onto few cores
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("id1"))
    cand
      .join(v.select(col("id"), col("nv")).as("x"), col("id1") === col("x.id"))
      .join(v.select(col("id"), col("nv")).as("y"), col("id2") === col("y.id"))
      .withColumn("cos",
        floorRound6(lit(1.0) - l2SqNative(col("x.nv"), col("y.nv")) / 2))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** The buckets [[embedLshNearDupPairs]] dropped under its `maxBucket`
    * cap: (band_idx, band_key, n) — run alongside the pair query so a cap
    * is always an AUDITED decision, not silent truncation. */
  def embedLshOversizedBuckets(df: DataFrame, idCol: Column, vecCol: Column,
                               nPlanes: Int = 16, bandBits: Int = 8,
                               center: Double = 0.0,
                               maxBucket: Int = Int.MaxValue): DataFrame = {
    val (_, buckets) = embedLshBuckets(df, idCol, vecCol, nPlanes, bandBits,
      center)
    buckets.filter(size(col("ids")) > maxBucket)
      .select(col("band_idx"), col("band_key"), size(col("ids")).as("n"))
  }
}

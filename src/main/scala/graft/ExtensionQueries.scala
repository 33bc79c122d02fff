package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Rounding.floorRound6
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.{Ann, AnnMatrix, AsofJoin, Dedup, GraphAnn, Knn, Multimodal, PageRank, Pq, QualityRules, RangeJoin, Sampling, Sketches, SkewJoin, TopK}

/** Extension queries (SURVEY.md §7.4) — LLM-data-pipeline operators beyond
  * reference parity: relational aggregates/joins/windows (general engine
  * capability), event-time windowing & sessionization, text analysis,
  * dedup family, similarity search. Every entry here is deterministic and
  * oracle-checked against DuckDB.
  *
  * 100 TB notes are on each query: what shuffles, what broadcasts, what
  * prunes.
  */
object ExtensionQueries {

  private type Q = (SparkSession, String) => DataFrame

  /** Decomposed Unicode test suffix shared by the q_text_nfc query and
    * its oracle SQL: "é" as e+U+0301 and Hangul "가" as jamo
    * U+1100 U+1161 — NFC composes both (length shrinks by 2). */
  private[graft] val nfcSuffix = "e\u0301\u1100\u1161"

  /** Decimal-exact sum surfaced as DOUBLE (SURVEY §2.8 rule 2). */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  private def queryVec(s: SparkSession, d: String): Seq[Double] =
    Knn.vectorAt(Tables.embeddings(s, d), col("vec_id"), 0L, col("embedding"))

  /** Session-scoped trained IVF index over the embeddings table: k-means
    * centroids (a LocalRelation — free to reuse) + the lazily
    * cell-assigned corpus, trained ONCE per (session, sfDir) and shared
    * by every IVF query — the lifecycle a persisted ANN store actually
    * has (the reference builds its collection once and queries it many
    * times). Training is deterministic, so caching cannot change any
    * query's result. */
  // sessions held WEAKLY: data dirs are immutable for a session's
  // lifetime, and stopped test sessions must not be retained by this
  // JVM-global map. The cached VALUE is plain centroid data — a cached
  // DataFrame would strongly reference its SparkSession through the
  // value side and defeat the weak key (the documented WeakHashMap
  // caveat); the frames are rebuilt per call from the data (lazy plan
  // construction only — the expensive part, k-means training with its
  // per-iteration collects, is exactly what the plain data caches).
  private val ivfCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Seq[Double])]]]())
  private def ivfIndex(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val perSession = ivfCache.synchronized {
      ivfCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Seq[Double])]]())
    }
    val centsLocal = perSession.computeIfAbsent(d, { dir =>
      Ann.kmeansCentroids(Tables.embeddings(s, dir), col("vec_id"),
          col("embedding"), k = 8, iters = 3)
        .select(col("cell").cast("int"), col("centroid").cast("array<double>"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    })
    import s.implicits._
    val cents = centsLocal.toDF("cell", "centroid")
    val emb = Tables.embeddings(s, d)
    (Ann.assignByLiteral(emb, col("embedding"), centsLocal), cents)
  }

  /** Content fingerprint of one source table of a data dir (file sizes +
    * mtimes, non-recursive — parquet dirs hold their part files at one
    * level): the deterministic cross-JVM index paths below must
    * INVALIDATE when the driver regenerates testdata in place between
    * rounds (it has — the round-7 events.ts retype) — a tag over the dir
    * NAME alone would keep serving an index built from the previous
    * generation of the data. One stat call per file; no data read. Fails
    * fast on a missing or unlistable source: a silent empty fingerprint
    * would mint a deterministic-looking cache path whose build then dies
    * later with a far more confusing error (ADVICE round 7). */
  private def srcFingerprint(d: String, src: String): String = {
    val root = new java.io.File(s"${d.stripSuffix("/")}/$src")
    require(root.exists,
      s"$src source missing: $root — bad data dir '$d'?")
    val files =
      if (root.isDirectory) {
        val listed = root.listFiles()
        require(listed != null, s"cannot list $root (IO/permission error)")
        listed.sortBy(_.getName)
      } else Array(root)
    files.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString(s"$d|", ",", "")
  }

  /** Deterministic cross-JVM persisted-artifact directory under the
    * JVM temp dir, shared by every persisted index tier. The path is
    * content-FINGERPRINTED ([[srcFingerprint]], format-versioned via the
    * prefix): session churn reuses one directory per data GENERATION
    * instead of accumulating a temp dir per (session, dir), and an
    * in-place testdata regeneration changes the fingerprint and so the
    * path — a stale artifact is never reused. Publication is ATOMIC:
    * `build` writes into a unique staging dir which is then renamed into
    * the deterministic path — a concurrent session (or second JVM)
    * either sees the complete versioned dir and reuses it, or races the
    * rename and falls back to its own staging copy; nobody ever scans a
    * half-written artifact (ADVICE round 6). Deterministic builds make
    * every outcome identical. The PREFIX is the format/params version:
    * the fingerprint tracks only the source data, so any change to a
    * builder's parameters or on-disk layout MUST bump its prefix (v1 →
    * v2) or stale-format artifacts from earlier binaries would be
    * served. */
  private val persistDirCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, String]]())
  private def persistedDir(s: SparkSession, prefix: String, d: String,
                           src: String = "embeddings.parquet")
      (build: String => Unit): String = {
    val perSession = persistDirCache.synchronized {
      persistDirCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, String]())
    }
    // get / build / putIfAbsent — NOT computeIfAbsent: a multi-minute
    // Spark index build must not run under a CHM bin lock (it would block
    // unrelated keys in the bin), and a builder that resolves a DEPENDENT
    // persisted dir (ivf-pq builds from the ivf index) would re-enter
    // this same map, which computeIfAbsent's contract forbids (ADVICE
    // round 7). A lost race costs one redundant deterministic build whose
    // publication the atomic staging-rename already arbitrates.
    val key = s"$prefix|$d"
    val cached = perSession.get(key)
    if (cached != null) cached
    else {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(srcFingerprint(d, src).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val path = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), s"$prefix-$tag")
      val resolved =
        if (java.nio.file.Files.exists(path)) path.toString
        else {
          val staging = java.nio.file.Files.createTempDirectory(
            path.getParent, s"$prefix-$tag-stage-")
          build(staging.toString)
          try {
            java.nio.file.Files.move(staging, path,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            path.toString
          } catch {
            case _: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.DirectoryNotEmptyException |
                 _: java.nio.file.AccessDeniedException =>
              staging.toString
          }
        }
      val prior = perSession.putIfAbsent(key, resolved)
      if (prior != null) prior else resolved
    }
  }

  /** Sharded NSW graph index over the embeddings table, persisted via
    * [[persistedDir]]: the cached value is the PATH of a
    * shard-partitioned on-disk index ([[GraphAnn.writeGraphIndex]]) —
    * O(1) driver memory regardless of corpus size. Unlike the
    * centroid/codebook caches (whose values are genuinely driver-sized),
    * a graph index is O(corpus) — vectors plus adjacency — so it must
    * live where the search tasks run, not on the driver. */
  private def graphIndexDir(s: SparkSession, d: String): String =
    persistedDir(s, "graft-graph-index-v2", d) { stg =>
      GraphAnn.writeGraphIndex(
        GraphAnn.buildGraph(Tables.embeddings(s, d), col("vec_id"),
          col("embedding"), numShards = 8, m = 16, efConstruction = 100),
        stg)
    }

  /** Sharded NSW graph index over L2-NORMALIZED embeddings — the COSINE
    * serving tier: on unit vectors L2 order is cosine order (cos =
    * 1 − ‖â−b̂‖²/2), so a beam search over this index retrieves by
    * cosine similarity. Persisted beside [[graphIndexDir]]; serving
    * re-ranks the candidates by the exact unnormalized cosine (see
    * [[annCosRun]]), so normalization rounding never reaches a score. */
  private def graphCosIndexDir(s: SparkSession, d: String): String =
    persistedDir(s, "graft-graph-cos-index-v1", d) { stg =>
      val unit = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") / norm(col("embedding"))).as("unit"))
      GraphAnn.writeGraphIndex(
        GraphAnn.buildGraph(unit, col("vec_id"), col("unit"),
          numShards = 8, m = 16, efConstruction = 100),
        stg)
    }

  /** [[queryVec]] scaled to unit length — the probe for the cosine
    * graph tier. */
  private def queryVecNorm(s: SparkSession, d: String): Seq[Double] = {
    val q = queryVec(s, d)
    val n = math.sqrt(q.map(x => x * x).sum)
    q.map(_ / n)
  }

  /** The synthetic multi-line page q_c4_filters and q_release_funnel
    * cleanse: corpus text carries no newlines, so the driver-testdata
    * page interleaves its token segments with boilerplate / junk lines,
    * drop markers injected on doc_id moduli so every C4 rule fires. */
  private def c4Page: Column = {
    val tk = graft.functions.TextFunctions.tokens(col("text"))
    def seg(from: Int, n: Int): Column =
      array_join(slice(tk, from, n), " ")
    concat_ws("\n",
      concat(lit("about the "), col("source"), lit(" network.")),
      concat(seg(1, 12), lit(".")),
      seg(13, 4),
      when(col("doc_id") % 7 === 0,
        lit("please enable javascript to continue."))
        .otherwise(concat(seg(17, 8), lit("?"))),
      when(col("doc_id") % 11 === 0, lit("lorem ipsum dolor sit amet."))
        .otherwise(concat(lit("copyright "), col("lang"),
          lit(" all rights reserved."))),
      when(col("doc_id") % 13 === 0, lit("function() { return; }"))
        .otherwise(concat(seg(25, 2), lit("!"))),
      lit("subscribe"),
      concat(seg(30, 6), lit(".")))
  }

  /** The 4-way RRF spine (BM25 + Dirichlet QL + proximity + a caller-
    * supplied cosine run, 1/(60 + rank) in a fixed run order — Cormack
    * SIGIR'09), shared by the brute-force and ANN-served keys: runs are
    * bounded top-20 retrievals (rank windows AFTER limit — 20-row
    * frames); fusion joins four ≤20-row frames. `cosRun` must expose
    * (vec_id, cos_sim). */
  private def rrfFusion4With(s: SparkSession, d: String,
      cosRun: DataFrame): DataFrame = {
    val kRun = 20
    val kws = Seq("join", "filter", "window", "scan")
    def ranked(df: org.apache.spark.sql.DataFrame, id: Column,
        ord: Seq[Column], as: String): org.apache.spark.sql.DataFrame =
      df.orderBy(ord: _*).limit(kRun)
        .withColumn(as, row_number().over(Window.orderBy(ord: _*)))
        .select(id.as(s"${as}id"), col(as))
    val bm = ranked(bm25Scores(s, d, kws), col("doc_id"),
      Seq(col("score").desc, col("doc_id").asc), "br")
    val ql = ranked(qlScores(s, d, kws), col("doc_id"),
      Seq(col("score").desc, col("doc_id").asc), "qr")
    val px = ranked(graft.operators.Proximity.minSpan(
        Tables.documents(s, d), col("doc_id"), col("text"), kws),
      col("doc_id"),
      Seq(col("min_span").asc, col("doc_id").asc), "pr")
    val cos = ranked(cosRun, col("vec_id"),
      Seq(col("cos_sim").desc, col("vec_id").asc), "cr")
    def rr(c: Column): Column =
      coalesce(lit(1.0) / (lit(60) + c), lit(0.0))
    bm.join(ql, col("brid") === col("qrid"), "full_outer")
      .withColumn("_i1", coalesce(col("brid"), col("qrid")))
      .join(px, col("_i1") === col("prid"), "full_outer")
      .withColumn("_i2", coalesce(col("_i1"), col("prid")))
      .join(cos, col("_i2") === col("crid"), "full_outer")
      .select(coalesce(col("_i2"), col("crid")).as("id"),
        floorRound6(rr(col("br")) + rr(col("qr")) + rr(col("pr"))
          + rr(col("cr"))).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("id").asc)
      .limit(10)
  }

  /** Cosine top-`kRun` retrieval SERVED from the persisted cosine graph
    * index: beam-search the unit-vector index for 2·kRun candidates
    * (exchange-free resident serve), then exact-cosine re-rank the
    * bounded candidate set with the IDENTICAL expression the brute-force
    * run uses — ANN candidate generation + exact re-rank, the
    * overfetch-then-refine serving shape (q_ann_pq's). At ef =
    * corpus size the candidate beam is exhaustive and the run must
    * EQUAL [[graft.operators.Knn.cosineTopK]] (the 2× overfetch
    * absorbs rounded-tie rank jitter at the k-boundary between the
    * L2 and cosine orderings). */
  private def annCosRun(s: SparkSession, d: String, kRun: Int,
      ef: Int): DataFrame = {
    val cand = GraphAnn.graphTopKResident(s, graphCosIndexDir(s, d),
      queryVecNorm(s, d), k = kRun * 2, ef = ef)
    Knn.cosineTopK(
      Tables.embeddings(s, d)
        .join(broadcast(cand.select("vec_id")), "vec_id"),
      col("embedding"), queryVec(s, d), k = kRun)
  }

  /** Session-scoped PERSISTED IVF index over the embeddings table — the
    * cell-partitioned on-disk layout of [[Ann.buildIvfIndex]], with the
    * same deterministic-path + atomic-staging-rename publication contract
    * as [[graphIndexDir]]. Serving scans PRUNE to the probed cell
    * directories (the probe filter becomes a PartitionFilter — PlanSpec),
    * so a top-k reads nProbe/k of the corpus files instead of scanning
    * everything: at 100 TB, the difference between an index and a cache
    * of centroids. Trained with the same parameters as the in-session
    * [[ivfIndex]] (k=8, iters=3, deterministic k-means), so both paths
    * produce identical assignments and identical query results. */
  /** Persisted BM25 corpus-statistics table in the
    * [[graft.streaming.Streams.bm25Stream]] PARTIAL layout (one
    * `batch_id=0` partition), so the declared q_bm25_served key reads
    * through the streaming lifecycle's own merge-on-read path —
    * serving and stream maintenance share one format. Fingerprints
    * documents.parquet (its actual source), not embeddings. */
  private def bm25StatsDir(s: SparkSession, d: String): String =
    persistedDir(s, "graft-bm25-stats-v1", d, src = "documents.parquet") {
      stg =>
        graft.operators.Bm25.statsPartial(Tables.documents(s, d),
            col("doc_id"), col("text"))
          .withColumn("batch_id", lit(0L))
          .write.mode("overwrite").partitionBy("batch_id").parquet(stg)
    }

  private def ivfIndexDir(s: SparkSession, d: String): String =
    // v3: farthest-first k-means seeding changed cell assignments
    persistedDir(s, "graft-ivf-index-v3", d) { stg =>
      Ann.buildIvfIndex(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), stg, k = 8, iters = 3)
    }

  /** Persisted CODES-ONLY PQ store: (vec_id, label, codes), sorted by
    * vec_id within partitions so the refine fetch's pushed-down id
    * filter prunes row groups. The ADC serving scan reads m small ints
    * per row — never the vectors ([[Pq.pqTopKRefinedFetch]] fetches only
    * the candidates). Codebooks are the session-cached deterministic
    * [[pqModel]], so codes are identical across builders. */
  private def pqCodesDir(s: SparkSession, d: String): String =
    persistedDir(s, "graft-pq-codes-v1", d) { stg =>
      Pq.encode(Tables.embeddings(s, d), col("embedding"), pqModel(s, d))
        .select(col("vec_id"), col("label"), col("codes"))
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite").parquet(stg)
    }

  /** Persisted IVF-PQ store: residual codes partitioned by cell — the
    * probe filter partition-prunes AND the pruned scan reads only codes;
    * the two compressions compose on disk exactly as [[Pq.ivfPqTopK]]'s
    * scaladoc promises. Built from the persisted IVF index, so cell
    * assignments agree with [[ivfIndexDir]] by construction. */
  private def ivfPqCodesDir(s: SparkSession, d: String): String = {
    // resolve the dependency OUTSIDE the build lambda: the ivf-pq store
    // is derived from the ivf index, and the explicit ordering keeps the
    // builder from nesting one persistedDir resolution inside another
    val ivfDir = ivfIndexDir(s, d)
    // v3: residual codes follow the ivf index's seeding change
    persistedDir(s, "graft-ivfpq-codes-v3", d) { stg =>
      val (data, cents) = Ann.readIvfIndex(s, ivfDir)
      Pq.encodeResidual(data.withColumn("cell", col("cell").cast("int")),
          col("embedding"), cents, ivfPqModel(s, d))
        .select(col("vec_id"), col("label"), col("cell"), col("codes"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(stg)
    }
  }

  /** Session-scoped SQ8 model (per-dim min/scale — driver-sized, same
    * weak-session contract as [[pqModel]]; training is a deterministic
    * aggregate, so caching cannot change results). */
  private val sqModelCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, graft.operators.Sq.SqModel]]())
  private def sqModel(s: SparkSession, d: String): graft.operators.Sq.SqModel = {
    val perSession = sqModelCache.synchronized {
      sqModelCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, graft.operators.Sq.SqModel]())
    }
    perSession.computeIfAbsent(d, { dir =>
      graft.operators.Sq.trainSq(Tables.embeddings(s, dir), col("embedding"))
    })
  }

  /** Persisted SQ8 codes store: (vec_id, codes) — the serving scan reads
    * one byte-class int per dimension instead of a float, and never
    * re-trains or re-encodes per invocation. */
  private def sqCodesDir(s: SparkSession, d: String): String =
    persistedDir(s, "graft-sq8-codes-v1", d) { stg =>
      graft.operators.Sq.encodeSq(Tables.embeddings(s, d), col("embedding"),
          sqModel(s, d))
        .select(col("vec_id"), col("codes"))
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite").parquet(stg)
    }

  /** Session-scoped cell-BUCKETED corpus table built from the persisted
    * IVF index (same shared-warehouse naming + reuse contract as
    * [[bandTable]]: per-JVM nonce, _SUCCESS-gated reuse). The batch kNN
    * join's corpus side rides this bucketed scan with NO exchange — only
    * the |queries|×nProbe probe side shuffles to the bucket layout
    * (PlanSpec `Bucketed: true` assertion): the recurring-serving shape
    * where the one-time layout replaces the per-batch corpus shuffle. */
  private val ivfBucketCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, String]]())
  private def ivfBucketTable(s: SparkSession, d: String): String = {
    val perSession = ivfBucketCache.synchronized {
      ivfBucketCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, String]())
    }
    perSession.computeIfAbsent(d, { dir =>
      val name = "graft_ivfb_" + jvmNonce + "_" +
        java.security.MessageDigest
          .getInstance("MD5").digest(dir.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      val loc = new org.apache.hadoop.fs.Path(
        s.sessionState.conf.warehousePath, name)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      val complete =
        fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS"))
      if (!(complete && s.catalog.tableExists(name))) {
        s.sql(s"DROP TABLE IF EXISTS $name")
        fs.delete(loc, true)
        val (data, _) = Ann.readIvfIndex(s, ivfIndexDir(s, d))
        graft.sources.Bucketing.writeBucketed(
          data.withColumn("cell", col("cell").cast("int")),
          name, "cell", buckets = 8)
      }
      name
    })
  }

  /** Epoch-MICROSECONDS from the events `ts` column, adaptive to the
    * driver testdata's parquet physical type, which has changed across
    * rounds: TIMESTAMP(NANOS) reads as epoch-nanos LONG under the
    * `nanosAsLong` legacy flag (rounds ≤6), TIMESTAMP(MICROS) reads as
    * TIMESTAMP/TIMESTAMP_NTZ (round 7 regeneration). The DuckDB oracle
    * side (`epoch_us(ts)`) is representation-agnostic already; this makes
    * the Spark side match. NTZ→TIMESTAMP cast relies on the UTC session
    * timezone every entry point pins (Verify/Bench/SparkSuite). */
  private def eventTsUs(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.Column =
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }

  /** Synthetic hash-derived link graph shared by q_pagerank and
    * q_graph_triangles: dense row indexes + 4 out-edges per doc,
    * dst = (src + 1 + h mod (N−1)) mod N — never the src itself. */
  private def linkGraph(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import graft.functions.TextFunctions.tokenHash32
    val nn = docCount(s, d)
    // pmod(h, nn - 1) with nn = 1 is pmod-by-zero = NULL — the graph
    // would silently build NULL dst edges instead of failing loudly
    require(nn >= 2,
      s"linkGraph needs >= 2 documents to synthesize edges, got $nn")
    // CHECKPOINT the dense-id map (nn rows × 2 longs — tiny): every
    // consumer of the graph (the per-round loop bodies, the final
    // label join-back, PageRank's node count) otherwise re-expands the
    // withDenseIds two-pass cum-sum lineage per reference — the
    // before-plans carried 17–19 copies of its window subtree
    // (plans/r16/q_pagerank_before.txt, q_label_prop_before.txt).
    val ids = graft.operators.Dedup.checkpointed(
      graft.sources.Maintenance.withDenseIds(s,
          Tables.documents(s, d).select(col("doc_id")), col("doc_id"))
        .select(col("doc_id"), col("label_id").as("ridx")))
    val e = ids
      .select(col("ridx").as("src"),
        explode(sequence(lit(1), lit(4))).as("ord"))
      .withColumn("dst",
        pmod(col("src") + 1 +
          pmod(tokenHash32(concat_ws(":", lit("e"), col("src"),
            col("ord"))), lit(nn - 1)), lit(nn)))
    (ids, e)
  }

  /** Session-scoped documents row count (same weak-session contract as
    * [[ivfIndex]]; the cached value is one Long). q_tfidf_simjoin's idf
    * needs N as a literal; without the cache every bench/verify
    * invocation paid a full scan-and-count action before the measured
    * dataflow even built (ADVICE round 5). Data dirs are immutable for a
    * session's lifetime, so the count cannot go stale. */
  private val docCountCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]]())
  private def docCount(s: SparkSession, d: String): Long = {
    val perSession = docCountCache.synchronized {
      docCountCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]())
    }
    perSession.computeIfAbsent(d,
      dir => Long.box(Tables.documents(s, dir).count())).longValue()
  }

  /** Session-scoped persisted minhash band table over the documents
    * table (same weak-session contract as [[ivfIndex]]; the cached value
    * is a table NAME). Write-once bucketed layout: every bucketed-dedup
    * query over the same dir reuses the pre-shuffled band index —
    * the recurring-ingest lifecycle [[Dedup.writeBandTable]] documents. */
  private val bandTableCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, String]]())
  private def bandTable(s: SparkSession, d: String): String = {
    val perSession = bandTableCache.synchronized {
      bandTableCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, String]())
    }
    perSession.computeIfAbsent(d, { dir =>
      // full md5 of the dir, not String.hashCode: a 32-bit name collision
      // across data dirs would silently serve pairs from the wrong corpus.
      // The name also carries a per-JVM nonce: a managed bucketed table's
      // files live under the shared warehouse path, and a deterministic
      // name would let a FRESH JVM recursively delete a directory another
      // JVM is still scanning (ADVICE round 6) — with the nonce, no JVM
      // can ever name (hence delete) another JVM's live table.
      val name = "graft_band_" + jvmNonce + "_" +
        java.security.MessageDigest
          .getInstance("MD5").digest(dir.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      // Intra-JVM: sessions sharing this warehouse reuse a COMPLETE
      // previous write (deterministic build ⇒ identical content) instead
      // of dropping a table a sibling session may be reading; only a
      // partial write (no _SUCCESS — nothing can be scanning it) is
      // cleaned and rebuilt.
      val loc = new org.apache.hadoop.fs.Path(
        s.sessionState.conf.warehousePath, name)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      val complete =
        fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS"))
      if (!(complete && s.catalog.tableExists(name))) {
        s.sql(s"DROP TABLE IF EXISTS $name")
        fs.delete(loc, true)
        Dedup.writeBandTable(Tables.documents(s, dir), col("doc_id"),
          col("text"), name)
      }
      name
    })
  }

  /** Session-scoped persisted simhash fingerprint-block table (the
    * [[bandTable]] contract verbatim — per-JVM nonce, _SUCCESS-gated
    * reuse — applied to [[Dedup.writeFingerprintTable]]'s bucketed
    * (bi, bv) layout). */
  private val fpTableCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, String]]())
  private def fpTable(s: SparkSession, d: String): String = {
    val perSession = fpTableCache.synchronized {
      fpTableCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, String]())
    }
    perSession.computeIfAbsent(d, { dir =>
      val name = "graft_fp_" + jvmNonce + "_" +
        java.security.MessageDigest
          .getInstance("MD5").digest(dir.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      val loc = new org.apache.hadoop.fs.Path(
        s.sessionState.conf.warehousePath, name)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      val complete =
        fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS"))
      if (!(complete && s.catalog.tableExists(name))) {
        s.sql(s"DROP TABLE IF EXISTS $name")
        fs.delete(loc, true)
        Dedup.writeFingerprintTable(
          graft.operators.Spread.forKernel(
            Tables.documents(s, dir).select(col("doc_id"), col("text")))
            .select(col("doc_id"), Dedup.simhash16(col("text")).as("fp")),
          col("doc_id"), col("fp"), name, bits = 16, maxHamming = 2)
      }
      name
    })
  }

  /** Session-scoped persisted near-dup component labels (doc_id,
    * component) — star contraction over the band-table pairs, written
    * ONCE per (session, dir) and shared by every consumer that labels
    * the FULL corpus (q_split_leakage_safe today; any future
    * whole-corpus cluster reader). The curation funnel and
    * q_cluster_rep intentionally do NOT read it: their labels are over
    * a FILTERED survivor set, where corpus-level labels would merge
    * clusters through documents the filter already dropped. The same
    * recurring-ingest contract as [[bandTable]]: labels are a
    * maintained corpus artifact, recomputed per ingest wave, not per
    * query. Cached value is a PATH (labels are corpus-sized — the
    * round-6 cache rule). */
  private val componentsTableCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, String]]())
  private def componentsTable(s: SparkSession, d: String): String = {
    val perSession = componentsTableCache.synchronized {
      componentsTableCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, String]())
    }
    perSession.computeIfAbsent(d, { dir =>
      val name = "graft_comp_" + jvmNonce + "_" +
        java.security.MessageDigest
          .getInstance("MD5").digest(dir.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      val loc = new org.apache.hadoop.fs.Path(
        s.sessionState.conf.warehousePath, name)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS"))) {
        fs.delete(loc, true)
        Dedup.connectedComponentsStar(
            Dedup.lshPairsFromBandTable(s, bandTable(s, dir),
              maxBucket = LshMaxBucket))
          .withColumnRenamed("id", "doc_id")
          .write.mode("overwrite").parquet(loc.toString)
      }
      loc.toString
    })
  }
  private def componentsFromTable(s: SparkSession, d: String): DataFrame =
    s.read.parquet(componentsTable(s, d))

  /** Session-scoped persisted (id, digest) table over the documents
    * table (the [[bandTable]] contract: weak-session cache of a table
    * NAME, md5-of-dir + per-JVM-nonce naming, complete-write reuse).
    * The recurring-ingest layout [[graft.sources.Maintenance
    * .writeDigestTable]] documents: digest the corpus once, diff every
    * later snapshot against the bucketed scan in place. */
  private val digestTableCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, String]]())
  private def digestTable(s: SparkSession, d: String): String = {
    val perSession = digestTableCache.synchronized {
      digestTableCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, String]())
    }
    perSession.computeIfAbsent(d, { dir =>
      val name = "graft_digt_" + jvmNonce + "_" +
        java.security.MessageDigest
          .getInstance("MD5").digest(dir.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      val loc = new org.apache.hadoop.fs.Path(
        s.sessionState.conf.warehousePath, name)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      val complete =
        fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS"))
      if (!(complete && s.catalog.tableExists(name))) {
        s.sql(s"DROP TABLE IF EXISTS $name")
        fs.delete(loc, true)
        graft.sources.Maintenance.writeDigestTable(Tables.documents(s, dir),
          "doc_id", Seq("text", "lang", "source"), name)
      }
      name
    })
  }

  /** One random suffix per JVM for shared-warehouse table names — see
    * [[bandTable]]. Drawn once at class-init (not per call), so every
    * session in this JVM shares it and the per-dir reuse still works. */
  private val jvmNonce: String =
    java.lang.Long.toHexString(
      new java.security.SecureRandom().nextLong() & Long.MaxValue)

  /** Session-scoped trained product quantizer over the embeddings table
    * (same lifecycle + weak-session contract as [[ivfIndex]]): codebooks
    * are deterministic, so caching cannot change any query's result. */
  private val pqCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Pq.PqModel]]())
  private def pqModel(s: SparkSession, d: String): Pq.PqModel = {
    val perSession = pqCache.synchronized {
      pqCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, Pq.PqModel]())
    }
    perSession.computeIfAbsent(d, { dir =>
      Pq.trainCodebooks(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), m = 8, ks = 16, iters = 3)
    })
  }

  /** Session-scoped trained BPE merge table (8 rounds over documents,
    * same weak-session contract as [[pqModel]]): the merge loop is
    * deterministic (argmax with a full tiebreak), so caching cannot
    * change results — q_bpe_train and q_bpe_encode share ONE training
    * run instead of each re-running the 8-round loop. */
  private val bpeCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String,
        Seq[(Int, String, String, Long)]]]())
  private def bpeMerges(s: SparkSession,
      d: String): Seq[(Int, String, String, Long)] = {
    val perSession = bpeCache.synchronized {
      bpeCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String,
          Seq[(Int, String, String, Long)]]())
    }
    perSession.computeIfAbsent(d, { dir =>
      graft.operators.BpeStats.trainMerges(Tables.documents(s, dir),
        col("text"), nMerges = 8)
    })
  }

  /** Session-scoped WordPiece vocabulary (derived from [[bpeMerges]] —
    * same weak-session contract): distinct '##'-marked subword units of
    * the merge-segmented vocabulary, driver-sized. */
  private val wpVocabCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Seq[String]]]())
  private def wpVocab(s: SparkSession, d: String): Seq[String] = {
    val perSession = wpVocabCache.synchronized {
      wpVocabCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]())
    }
    perSession.computeIfAbsent(d, { dir =>
      graft.operators.BpeStats.wordpieceVocab(Tables.documents(s, dir),
        col("text"), bpeMerges(s, dir))
    })
  }

  /** Session-scoped trained unigram-LM vocab (seed 60 multi-char
    * candidates, hard-EM round, prune to 40, re-score — deterministic
    * throughout, same weak-session contract as [[bpeMerges]]):
    * q_unigram_train and q_unigram_encode share ONE training run. */
  private val ugVocabCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Long)]]]())
  private def ugVocab(s: SparkSession, d: String): Seq[(String, Long)] = {
    val perSession = ugVocabCache.synchronized {
      ugVocabCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String,
          Seq[(String, Long)]]())
    }
    perSession.computeIfAbsent(d, { dir =>
      graft.operators.UnigramLm.trainUnigram(Tables.documents(s, dir),
        col("text"), nMulti = 60, keepMulti = 40)
    })
  }

  /** Residual PQ model over the [[ivfIndex]] cell structure (IVF-PQ),
    * cached with the same lifecycle. */
  private val ivfPqCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Pq.PqModel]]())
  private def ivfPqModel(s: SparkSession, d: String): Pq.PqModel = {
    val perSession = ivfPqCache.synchronized {
      ivfPqCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, Pq.PqModel]())
    }
    perSession.computeIfAbsent(d, { dir =>
      val (indexed, cents) = ivfIndex(s, dir)
      Pq.trainResidual(indexed, col("vec_id"), col("embedding"), cents,
        m = 8, ks = 16, iters = 2)
    })
  }

  /** Session-scoped MEASURED serving budgets for the quantized ANN
    * serves ([[AnnMatrix.autoServeBudgets]]): a one-time sampled sweep
    * of the two recall-governing knobs — IVF nProbe (cell coverage) and
    * PQ overfetch (exact-refine window) — picked cheapest-meeting-
    * target 0.9. Replaces the hardcoded overfetch=8 the round-7 1M soak
    * showed collapsing to recall 0.20 on a jitter-dominated corpus
    * while 16 recovered 0.91: the knob is now a measured property of
    * the data, not a constant. Deterministic sweep ⇒ cacheable; the
    * value is two ints + a driver-sized frontier. */
  private val serveBudgetCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, AnnMatrix.ServeBudgets]]())
  private def serveBudgets(s: SparkSession, d: String): AnnMatrix.ServeBudgets = {
    val perSession = serveBudgetCache.synchronized {
      serveBudgetCache.computeIfAbsent(s, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, AnnMatrix.ServeBudgets]())
    }
    perSession.computeIfAbsent(d, { dir =>
      AnnMatrix.autoServeBudgets(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), queryIds = 0L until 8L, targetRecall = 0.9)
    })
  }

  val all: Map[String, Q] = Map(
    // ---- grouped aggregation (TPC-H Q1 shape). Map-side partial agg then
    // one shuffle on (returnflag, linestatus) — 6 groups, trivially scalable.
    "q_agg_tpch_q1" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- 3-way join (TPC-H Q3 shape): filtered dim side broadcast; the
    // orders⋈lineitem join shuffles on orderkey (co-partitioned by key at
    // scale via bucketing). Revenue per orderkey is a small decimal sum.
    "q_join_topk_orders" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("2000-01-01").cast("timestamp"))
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("2000-01-01").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // ---- broadcast dim joins: region/nation are tiny at any scale —
    // explicit broadcast() keeps the plan shuffle-free on the fact side
    // except the final 5-group aggregation.
    "q_join_broadcast_dims" -> ((s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy("r_name")),

    // ---- window rank: top-3 orders per customer. One shuffle on custkey;
    // at scale, prefer operators.TopK.topKPerGroup (heap aggregator, no
    // full per-group sort) — this is the windowed reference formulation.
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // ---- event-time tumbling window (batch form of the streaming agg in
    // graft.streaming): hourly buckets over epoch-µs; one shuffle on
    // (bucket, event_type).
    "q_events_window" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.withColumn("ts_us", eventTsUs(ev))
        .withColumn("bucket_sec", expr("(ts_us div 1000000) div 3600") * 3600)
        .groupBy(col("bucket_sec"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("bucket_sec", "event_type")
    }),

    // ---- exponential time-decay trending counts (half-life = 1 day):
    // the recency-weighting signal a curation/sampling pipeline uses to
    // favor fresh sources. Weight 2^-age_days is an exact dyadic
    // rational, summed in INTEGER space (scaled by 2^50, ages clamped
    // at 50 so the scaled weight stays a BIGINT power of two) — the sum
    // is order-independent and map-side-partial (no sorted-fold
    // crutch), overflow-proof via DECIMAL(38,0)/HUGEINT, and both
    // engines round the one integer→double cast identically; /2^50 is
    // an exact exponent shift. "now" is the corpus max event time via
    // the sanctioned one-row broadcast aggregate (the bm25 avgdl
    // scalar-subquery shape).
    "q_decayed_count" -> ((s, d) => {
      val ev0 = Tables.events(s, d)
      val ev = ev0.withColumn("ts_us", eventTsUs(ev0))
      val now = ev.agg(max(col("ts_us")).as("now_us"))
      ev.crossJoin(broadcast(now))
        .withColumn("age_d",
          least(expr("(now_us - ts_us) div 86400000000"), lit(50L)))
        .withColumn("w",
          expr("shiftleft(1L, cast(50 - age_d AS int))")
            .cast("decimal(38,0)"))
        .groupBy(col("event_type"))
        .agg((sum(col("w")).cast("double") / lit(1125899906842624.0))
          .as("decayed_count"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // ---- semi-structured extraction: the events `props` JSON column
    // parsed ONCE per row (get_json_object pushes the single-path
    // parse into codegen; the round-2 rule — multi-field extraction
    // would use json_tuple to avoid OptimizeCsvJsonExprs re-splitting
    // a shared from_json), then a decile rollup of the extracted
    // metric per event type. Map-side parse + one small aggregate.
    // The parse FUSES into the scan with map-side partial aggregation
    // — only (type, decile) partials ever shuffle, the plan a 100 TB
    // run wants (row groups parallelize the scan there; the testdata's
    // single-row-group file bounds any form at the one scan task —
    // measured 25 s at sf10 fused, identical with a Spread exchange,
    // 46 s with a null guard). Deliberately NO null guard: an
    // isNotNull on the parsed value (or on the group key — Catalyst
    // commutes it through the aggregate) is pushed into the scan as a
    // SECOND full parse; a malformed-props row would surface as a
    // NULL-decile group in BOTH engines identically, so the guard buys
    // nothing but the regression.
    "q_json_extract" -> ((s, d) =>
      Tables.events(s, d).select(col("event_type"), col("props"))
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .groupBy(col("event_type"), expr("k div 10").as("k_decile"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type", "k_decile")),

    // ---- 7-day moving average of daily event volume: a RANGE-frame
    // window (value-based 6-preceding-days frame — skips missing days
    // correctly where a ROWS frame would not), integer sums with one
    // exact double division. One (type, day) aggregate shuffle + one
    // type-partitioned window.
    "q_moving_avg" -> ((s, d) => {
      val ev0 = Tables.events(s, d)
      val daily = ev0.withColumn("ts_us", eventTsUs(ev0))
        .withColumn("day", expr("ts_us div 86400000000"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-6, 0)
      daily
        .withColumn("mov_sum", sum(col("n")).over(w))
        .withColumn("mov_avg", col("mov_sum").cast("double") /
          count(lit(1)).over(w).cast("double"))
        .select(col("event_type"), col("day"), col("n"), col("mov_sum"),
          col("mov_avg"))
        .orderBy("event_type", "day")
    }),

    // ---- robust anomaly flags on daily event rates: median + MAD per
    // type via the rank-exact lower-median convention (q_median_manual
    // — engine quantile()s interpolate float-divergently), anomaly =
    // |n − med| > 3·MAD as a pure INTEGER comparison — no float enters
    // the verdict. The pipeline-monitoring operator; per-type stats
    // frames are group-count-sized and broadcast back.
    "q_anomaly_days" -> ((s, d) => {
      val ev0 = Tables.events(s, d)
      val daily = ev0.withColumn("ts_us", eventTsUs(ev0))
        .withColumn("day", expr("ts_us div 86400000000"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
      val byType = Window.partitionBy(col("event_type"))
      val med = daily
        .withColumn("rn", row_number().over(
          byType.orderBy(col("n"), col("day"))))
        .withColumn("cnt", count(lit(1)).over(byType))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col("n").as("med"))
      val dev = daily.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("n") - col("med")))
      val mad = dev
        .withColumn("rn", row_number().over(
          byType.orderBy(col("dev"), col("day"))))
        .withColumn("cnt", count(lit(1)).over(byType))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col("dev").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .select(col("event_type"), col("day"), col("n"), col("med"),
          col("mad"),
          (col("dev") > col("mad") * 3).cast("int").as("is_anomaly"))
        .orderBy("event_type", "day")
    }),

    // ---- cohort retention matrix: users grouped by first-seen epoch
    // week, activity counted per week offset — the classic cohort
    // analysis, all integer arithmetic. Two user-keyed shuffles (the
    // distinct and the first-seen min) + one tiny matrix aggregate.
    "q_cohort_retention" -> ((s, d) => {
      val ev0 = Tables.events(s, d)
      val uw = ev0.withColumn("ts_us", eventTsUs(ev0))
        .withColumn("wk", expr("ts_us div 604800000000"))
        .select(col("user_id"), col("wk")).distinct()
      val cohorts = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
      uw.join(cohorts, "user_id")
        .groupBy(col("cw"), (col("wk") - col("cw")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(col("cw").as("cohort_week"), col("week_offset"),
          col("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // ---- sessionization: 30-min-gap sessions per user. Two windows over
    // one shuffle on user_id (lag + running sum share the partitioning).
    "q_sessionize" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val ev = Tables.events(s, d)
      ev
        .withColumn("ts_us", eventTsUs(ev))
        .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byUser))
        .withColumn("new_session",
          when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_idx",
          sum(col("new_session")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          expr("min(ts_us) div 1000000").as("start_sec"),
          expr("max(ts_us) div 1000000").as("end_sec"))
        .orderBy("user_id", "session_idx")
    }),

    // ---- ordered multi-step funnel (view → click → purchase): per
    // user, the earliest view, the earliest click STRICTLY AFTER it,
    // the earliest purchase strictly after that — the product-analytics
    // conversion query where step order matters (a purchase before the
    // click must not count). ONE user_id shuffle: each user's events
    // fold in-row (per-user state bounded by events/user — the
    // sessionize assumption); timestamps surface as epoch-µs longs
    // (the no-raw-timestamp oracle rule).
    "q_funnel_steps" -> ((s, d) => {
      val ev = Tables.events(s, d)
      graft.operators.Funnel.steps(ev, col("user_id"), eventTsUs(ev),
          col("event_type"), Seq("view", "click", "purchase"))
        .orderBy("user_id")
    }),

    // ---- text analysis ------------------------------------------------
    "q_text_langid" -> ((s, d) =>
      withLangId(Tables.documents(s, d), col("text"))
        .select(col("doc_id"), col("pred_lang"))
        .orderBy("doc_id")),

    "q_text_quality" -> ((s, d) =>
      withQualityScore(Tables.documents(s, d), col("text"))
        .select(col("doc_id"), col("quality"))
        .orderBy("doc_id")),

    // ---- model-based quality classifier (the DCLM/FineWeb-edu shape
    // beside the rule-based Gopher and LM-score filters): a hashed
    // linear (fastText-style) scorer — native feature-hash kernel,
    // anchor-derived literal weights, classification at the exact
    // rational threshold 0 (sigmoid is monotone: p > 0.5 ⟺ logit > 0 —
    // the no-transcendentals rule). Map-side only, no shuffle.
    "q_quality_classifier" -> ((s, d) => {
      val w = graft.operators.QualityRules.anchorWeights(64,
        clfCleanAnchors, clfJunkAnchors)
      Tables.documents(s, d)
        .select(col("doc_id"),
          floorRound6(graft.operators.QualityRules.classifierLogit(
            col("text"), 64, w)).as("clf_score"))
        .select(col("doc_id"), col("clf_score"),
          when(col("clf_score") > 0, 1).otherwise(0).as("is_quality"))
        .orderBy("doc_id")
    }),

    // ---- cross-language quality calibration: percentile rank of the
    // quality score WITHIN each language — raw scores aren't
    // comparable across languages (tokenization/stopword rates differ;
    // why CCNet buckets per language), so the release threshold is
    // applied to the percentile, not the raw score. pct = (rank−1)/
    // (n−1) over the deterministic (quality, doc_id) order: an exact
    // integer-ratio division (singleton languages pin to 1.0), no
    // engine quantile interpolation anywhere. One language-keyed
    // window shuffle.
    "q_quality_percentile" -> ((s, d) => {
      val byLang = Window.partitionBy(col("lang"))
      withQualityScore(Tables.documents(s, d), col("text"))
        .withColumn("rnk", row_number().over(
          byLang.orderBy(col("quality"), col("doc_id"))))
        .withColumn("cnt", count(lit(1)).over(byLang))
        .select(col("doc_id"), col("lang"), col("quality"),
          when(col("cnt") === 1, lit(1.0))
            .otherwise((col("rnk") - 1).cast("double") /
              (col("cnt") - 1).cast("double")).as("pct"))
        .orderBy("doc_id")
    }),

    "q_text_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          tokenCountWs(col("text")).as("n_tokens_ws"),
          tokenCountAlnum(col("text")).as("n_tokens_alnum"))
        .orderBy("doc_id")),

    "q_text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // ---- exact dedup: hash-groupBy on content digest. One shuffle on the
    // digest (uniform — no skew); at 100 TB this is the canonical
    // dedup-by-key pattern, digest computed map-side.
    "q_dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
        .orderBy("keep_id")),

    // ---- cosine top-k over embeddings (ANN baseline; scale path = IVF in
    // operators.Ann). TakeOrderedAndProject — k×partitions rows move.
    "q_cosine_topk" -> ((s, d) => {
      val q = queryVec(s, d)
      Knn.cosineTopK(Tables.embeddings(s, d), col("embedding"), q, k = 10)
        .select(col("vec_id"), col("label"), col("cos_sim"))
    }),

    // ---- Matryoshka / adaptive retrieval (Kusupati et al. 2022): a
    // cheap first pass ranks by cosine over the 16-dim embedding
    // PREFIX (1/4 the bytes and FLOPs — at scale the prefix lives as
    // its own pruned column), then an exact full-dim rerank over the
    // fetched top-100. Both stages are exact given their inputs, so
    // the funnel is hash-oracled end to end.
    "q_knn_matryoshka" -> ((s, d) => {
      val qFull = queryVec(s, d)
      val cand = Knn.cosineTopK(Tables.embeddings(s, d),
        slice(col("embedding"), 1, 16), qFull.take(16), k = 100)
      Knn.cosineTopK(cand, col("embedding"), qFull, k = 10)
        .select(col("vec_id"), col("label"), col("cos_sim"))
    }),

    // ---- Johnson–Lindenstrauss ±1 random projection (Achlioptas
    // 2003): 64 → 8 dims as m codegen ±element chains, md5-parity
    // signs the oracle re-derives (hash16Sql % 2), left-assoc sum ==
    // DuckDB's i-ordered list_reduce fold. The model-free reduction
    // tier beside the matryoshka prefix (model-cooperative), SQ8/PQ
    // (trained) and the binary sketch (Hamming-only); entirely
    // map-side — the 100 TB cost is the scan.
    "q_jl_project" -> ((s, d) =>
      graft.operators.RandomProjection.project(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), d = 64, m = 8)
        .orderBy("id", "j")),

    // ---- binary-quantized retrieval: 64 hyperplane sign bits per
    // embedding packed into two 32-bit halves (the phash convention —
    // bit 63 weights wrap under HUGEINT sums), Hamming top-50 via
    // bit_count on the packed halves, exact full-precision cosine
    // rerank top-10. Completes the quantization ladder (SQ8 8×, PQ
    // 32×, binary 256×): at scale the 16-byte sketch column is its own
    // pruned scan and the rerank fetches only the candidate vectors.
    // The 1-row query-sketch frame rides the sanctioned broadcast.
    // LIMITATION (measured, KnnSpec): the sketch is blind WITHIN a
    // tight near-dup cluster — every member is Hamming 0, so the
    // candidate cut degenerates to id order there. On clustered
    // corpora size the overfetch past the largest cluster or run the
    // dedup family first (the exactDedup-first rule); recall is gated
    // on separated data, the regime a coarse tier is for.
    "q_knn_binary" -> ((s, d) => {
      val qFull = queryVec(s, d)
      val emb = Tables.embeddings(s, d)
      val sig = emb.withColumn("bits",
          graft.plans.HyperplaneBits.hyperplaneBitsNative(
            col("embedding").cast("array<double>"), 64, 0.5))
        .withColumn("hi", aggregate(slice(col("bits"), 1, 32), lit(0L),
          (a, b) => a * lit(2L) + b))
        .withColumn("lo", aggregate(slice(col("bits"), 33, 32), lit(0L),
          (a, b) => a * lit(2L) + b))
      val qSig = sig.filter(col("vec_id") === 0L)
        .select(col("hi").as("qhi"), col("lo").as("qlo"))
      val cand = sig.crossJoin(broadcast(qSig))
        .withColumn("hamming",
          bit_count(col("hi").bitwiseXOR(col("qhi"))) +
            bit_count(col("lo").bitwiseXOR(col("qlo"))))
        .orderBy(col("hamming").asc, col("vec_id").asc).limit(50)
      Knn.cosineTopK(cand, col("embedding"), qFull, k = 10)
        .select(col("vec_id"), col("label"), col("cos_sim"))
    }),

    // ---- MMR diversity rerank (Carbonell & Goldstein '98, λ = 1/2):
    // greedy k-of-N selection penalizing similarity to already-picked
    // docs. Serving-time op over the retrieval-bounded top-30, so the
    // whole greedy loop is ONE lazy fold expression over a single
    // grouped row — the corpus is scanned exactly once by the
    // candidate query; oracle replays the loop as an unrolled CTE
    // chain (the q_bpe_train pattern).
    "q_mmr_diversify" -> ((s, d) => {
      val q = queryVec(s, d)
      val cand = Knn.cosineTopK(Tables.embeddings(s, d), col("embedding"),
          q, k = 30)
        .select(col("vec_id"), col("embedding"), col("cos_sim"))
      graft.operators.Mmr.diversify(cand, col("vec_id"), col("embedding"),
          col("cos_sim"), k = 10)
        .orderBy("rank")
    }),

    // ---- batch MMR over a query SET (the knn-join serving shape):
    // guarded cosine join retrieves top-30 per query, then one greedy
    // fold per query group — the only shuffles are the retrieval topk
    // and one groupBy on the query id; per-group state is ≤30 structs.
    "q_mmr_join" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cand = Knn.cosineJoin(queries, col("qid"), col("qv"),
        emb, col("vec_id"), col("embedding"), k = 30)
      val withVecs = cand.join(
        emb.select(col("vec_id").as("match_id"), col("embedding")),
        "match_id")
      graft.operators.Mmr.diversifyGrouped(withVecs, col("query_id"),
          col("match_id"), col("embedding"), col("cos_sim"), k = 5)
        .orderBy("qid", "rank")
    }),

    // ---- MinHash+LSH near-dup candidates: shingle→signature map-side,
    // one shuffle of exploded (band, digest) rows, bucket self-join.
    // maxBucket=64 is the hot-bucket valve (a bucket of B members emits
    // ~B²/2 pairs): a no-op at every bucket the shaped corpora produce
    // below the 100×-replication regime, and the bound that keeps a
    // dup-heavy corpus from emitting Σ cluster² (audited via
    // lshOversizedBuckets — never silent). The oracle replicates the
    // gate, so a trip still hash-matches.
    "q_dedup_minhash" -> ((s, d) =>
      Dedup.lshCandidatePairs(Tables.documents(s, d), col("doc_id"),
          col("text"), maxBucket = LshMaxBucket)
        .orderBy("id1", "id2")),

    // ---- the SAME pairs served from the persisted BUCKETED band table
    // (write-once layout, session-cached): the groupBy rides the
    // bucketed scan's hash distribution, so the only Exchange left is
    // the final pair distinct — the recurring-dedup shuffle eliminated
    // (PlanSpec-asserted). Identical output ⇒ identical oracle.
    "q_dedup_minhash_bucketed" -> ((s, d) =>
      Dedup.lshPairsFromBandTable(s, bandTable(s, d),
          maxBucket = LshMaxBucket)
        .orderBy("id1", "id2")),

    // ---- salted skew join: hot keys spread across `salts` reducers; the
    // RESULT is identical to the plain join, so the oracle is plain SQL —
    // proving salting is a physical rewrite, not a semantic change.
    "q_skew_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      SkewJoin.saltedJoin(li, urgent, "l_orderkey", salts = 4)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- two-phase salted aggregation: a hot group's rows split over
    // (key, salt) partials before the final combine — result identical to
    // the direct groupBy (decimal partials keep the sum exact).
    "q_skew_agg" -> ((s, d) =>
      SkewJoin.saltedCountSum(Tables.lineitem(s, d), col("l_returnflag"),
          col("l_quantity"), salts = 8)
        .withColumnRenamed("k", "l_returnflag")
        .orderBy("l_returnflag")),

    // ---- cube: all grouping-set combinations, two-phase like the rollup
    // (pre-aggregate at the finest grain so Expand multiplies a handful
    // of rows, not the scan).
    "q_agg_cube" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("_cnt"),
          sum(col("o_totalprice").cast("decimal(18,4)")).as("_sp"))
      base.cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("_cnt")).as("cnt"),
          sum(col("_sp")).cast("double").as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("cnt"), col("sum_price"))
        .orderBy("status", "priority")
    }),

    // ---- TF-IDF top terms per doc: term frequency × N/df (rational idf
    // variant — no transcendental, so both engines compute identical IEEE
    // doubles). Two aggregations + one join on the term + one per-doc
    // window; the df table is small (vocabulary) so Catalyst broadcasts
    // it and the doc side never reshuffles for the join.
    "q_tfidf_top_terms" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val n = docCount(s, d)
      val terms = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // df straight off tf — one row per (doc, term) already, so this
      // is count(*), not count(distinct) (the SimJoin rule): the former
      // explicit distinct re-tokenized the corpus and paid its own
      // exchange; here both consumers share tf's reused exchange
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val scored = tf.join(dfreq, "term")
        .withColumn("score",
          floorRound6(col("tf") * lit(n.toDouble) / col("df")))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("term").asc)))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("score"), col("rn"))
        .orderBy("doc_id", "rn")
    }),

    // ---- Z-order (Morton) layout key: interleaved bits of two bucketed
    // dimensions — the multi-dimensional sort key under Delta/Iceberg
    // ZORDER BY. Pure codegen'd bit arithmetic, shuffle-free; a layout
    // write sorts by it. Integer-exact ⇒ hash-oracled.
    "q_zorder" -> ((s, d) => {
      val x = pmod(col("o_custkey"), lit(256))
      val y = pmod(col("o_orderkey"), lit(256))
      Tables.orders(s, d)
        .select(col("o_orderkey"), x.as("bx"), y.as("by"),
          graft.operators.ZOrder.zValue(Seq(x, y), 8).as("z"))
        .orderBy(col("z"), col("o_orderkey"))
        .limit(20)
    }),

    // ---- Hilbert-curve layout key beside q_zorder: same bucketing,
    // strictly better locality — consecutive indexes are always
    // grid-adjacent (ProfileSpec proves zero jumps over the full
    // grid; Z-order jumps diagonally at power-of-two seams), and the
    // measured box-scan pruning is 68.1× vs Z-order's 24.7× on the
    // identical corpus (BASELINE, Scratch zorder). Native codegen
    // kernel per row, integer-exact ⇒ hash-oracled via the unrolled
    // level chain.
    "q_hilbert" -> ((s, d) => {
      val x = pmod(col("o_custkey"), lit(256))
      val y = pmod(col("o_orderkey"), lit(256))
      Tables.orders(s, d)
        .select(col("o_orderkey"), x.as("bx"), y.as("by"),
          graft.operators.ZOrder.hilbertValue(x, y, 8).as("h"))
        .orderBy(col("h"), col("o_orderkey"))
        .limit(20)
    }),

    // ---- 3-D Hilbert layout key (Skilling's transpose algorithm):
    // real layout keys are 3-4 dims (lang × source × time) where the
    // 2-D xy2d kernel can't go. Native codegen kernel; curve property
    // (bijection + unit grid steps) exhaustively proven in ProfileSpec;
    // integer-exact ⇒ hash-oracled via the unrolled stage chain.
    "q_hilbert3" -> ((s, d) => {
      val x = pmod(col("o_custkey"), lit(256))
      val y = pmod(col("o_orderkey"), lit(256))
      val z = pmod(expr("o_orderkey div 256"), lit(256))
      Tables.orders(s, d)
        .select(col("o_orderkey"), x.as("bx"), y.as("by"), z.as("bz"),
          graft.operators.ZOrder.hilbertValueN(Seq(x, y, z), 8).as("h"))
        .orderBy(col("h"), col("o_orderkey"))
        .limit(20)
    }),

    // ---- Unicode NFC normalization (native Normalizer expression): a
    // deterministic DECOMPOSED suffix (e+combining-acute, Hangul jamo
    // 가 as U+1100 U+1161) is appended so the query demonstrably
    // composes — codepoint counts shrink — and DuckDB's utf8proc-based
    // nfc_normalize must agree byte-for-byte with java.text.Normalizer.
    "q_text_nfc" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("_raw",
          concat(col("text"), lit(" "), lit(ExtensionQueries.nfcSuffix)))
        .select(col("doc_id"),
          graft.plans.NfcNormalize.nfcNormalize(col("_raw")).as("nfc"),
          length(col("_raw")).as("n_raw"),
          length(graft.plans.NfcNormalize.nfcNormalize(col("_raw")))
            .as("n_nfc"))
        .orderBy("doc_id")),

    // ---- overlapping token-window chunking: documents → model-sized
    // pieces (64-token windows, stride 48 → 16-token overlap). Pure
    // generator over the scan — zero shuffle; output volume is the only
    // scale cost (overlap factor chunkTokens/stride).
    "q_chunk_tokens" -> ((s, d) =>
      graft.operators.Chunk.chunkByTokens(Tables.documents(s, d),
          col("doc_id"), col("text"), chunkTokens = 64, stride = 48)
        .orderBy("doc_id", "chunk_idx")),

    // ---- T5 span-corruption planning (Raffel et al. 2020 §3.1.4):
    // deterministic block-hash span placement (~15% corruption, spans
    // of 3) and the resulting input/target example sizes — what the
    // packing/budget stages consume. Entirely map-side; spread past
    // the 1-row-group scan (interpreted per-block fold).
    "q_span_corrupt" -> ((s, d) =>
      graft.operators.SpanCorrupt.stats(
          graft.operators.Spread.forKernel(Tables.documents(s, d)),
          col("doc_id"), col("text"))
        .orderBy("doc_id")),

    // ---- BM25 keyword retrieval (Robertson/Spärck Jones): the ranking
    // function behind classic search, over the same token pipeline as
    // TF-IDF. Rational idf (N−df+0.5)/(df+0.5) — the log is omitted for
    // cross-engine IEEE identity (transcendental libm results differ
    // between engines; the repo-wide rule), k1=1.2, b=0.75. Per-doc score
    // is the TERM-ORDERED left fold of per-term scores (collect→sort→
    // fold), because a plain SUM's accumulation order is nondeterministic
    // in floats — the same trick q_winnow_fingerprint uses. Scale shape:
    // tf is one shuffle on (doc, term); df and avgdl are broadcast-size;
    // the doc side joins them without reshuffling.
    "q_bm25_rank" -> bm25Top15,

    // ---- top-k BM25, the MaxScore key: q_bm25_rank's plan, whose
    // per-partition TakeOrderedAndProject k-heap is the top-k pruning
    // (why there is no term-upper-bound ladder: the Bm25 scaladoc).
    "q_bm25_maxscore" -> bm25Top15,

    // ---- BM25 served under MAINTAINED corpus statistics (the
    // bm25Stream merge-on-read state, persisted in the partial-
    // partition layout): candidates re-tokenize, df/avgdl/N come from
    // the statistics table — a query never re-aggregates the corpus
    // (the q_rrf_fusion_ann persisted-serving pattern for the
    // full-text leg). Exact statistics ⇒ held to q_bm25_rank's EXACT
    // oracle SQL.
    "q_bm25_served" -> ((s, d) => {
      val (dfreq, stats) = graft.streaming.Streams.readBm25Stats(s,
        bm25StatsDir(s, d))
      graft.operators.Bm25.scoresWith(Tables.documents(s, d),
          col("doc_id"), col("text"),
          Seq("join", "filter", "window", "scan"), dfreq, stats)
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(15)
    }),

    // ---- Dirichlet-smoothed query likelihood (Zhai & Lafferty 2001,
    // SIGIR): the language-model retrieval family beside BM25 —
    // score(q,d) = Π_w (c(w,d) + μ·cf(w)/|C|) / (|d| + μ), μ = 64 (an
    // exact binary integer). Every doc scores every query term (the
    // unseen-term smoothing IS the model), so the fold is a PRODUCT in
    // term-sorted order (1.0-seeded Spark fold = first-element-seeded
    // DuckDB list_reduce, bit-equal since 1.0·x = x); the fixed
    // operation tree hash-matches unrounded (the q_colloc_lift rule).
    "q_ql_dirichlet" -> ((s, d) =>
      qlScores(s, d, Seq("join", "filter", "window", "scan"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(15)),

    // ---- minimal query-term span (Tao & Zhai 2007): the proximity
    // re-ranking feature between bag-of-words (q_bm25_rank) and exact
    // adjacency (q_phrase_search) — shortest window containing ALL
    // query terms, via the running-max sweep (|q| window columns over
    // ONE doc-ordered pass of the term-filtered positions). All-integer.
    "q_prox_minspan" -> ((s, d) =>
      graft.operators.Proximity.minSpan(Tables.documents(s, d),
          col("doc_id"), col("text"),
          Seq("join", "filter", "window", "scan"))
        .orderBy("doc_id")),

    // ---- hybrid retrieval: reciprocal-rank fusion (Cormack et al.,
    // SIGIR'09) of a BM25 keyword run and a cosine vector run —
    // score(d) = Σ_runs 1/(60 + rank_run(d)). Rank arithmetic only, so
    // the fused score is exact double division + one addition in a
    // fixed run order (cross-engine bit-equal); ranks break ties on the
    // doc id over ROUNDED run scores, so both engines rank identically.
    // Scale shape: each run is an independently-proven top-N retrieval
    // (the vector run swaps to any persisted ANN tier at scale); fusion
    // itself joins two ≤20-row frames — serving-bounded, never a corpus
    // op. doc_id and vec_id share the id space (driver testdata).
    "q_rrf_fusion" -> ((s, d) => {
      val kRun = 20
      // top-N FIRST via orderBy+limit (distributed TakeOrderedAndProject
      // — per-partition bounded heaps), THEN row_number over the N-row
      // result: a global rank window over the full scored run would be a
      // one-task sort of the corpus
      val w = Window.orderBy(col("score").desc, col("doc_id").asc)
      val bm = bm25Scores(s, d, Seq("join", "filter", "window", "scan"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(kRun)
        .withColumn("br", row_number().over(w))
        .select(col("doc_id").as("bid"), col("br"))
      val q = queryVec(s, d)
      val cw = Window.orderBy(col("cos_sim").desc, col("vec_id").asc)
      val cos = Knn.cosineTopK(Tables.embeddings(s, d), col("embedding"),
          q, k = kRun)
        .withColumn("cr", row_number().over(cw))
        .select(col("vec_id").as("cid"), col("cr"))
      bm.join(cos, col("bid") === col("cid"), "full_outer")
        .select(
          coalesce(col("bid"), col("cid")).as("id"),
          floorRound6(
            coalesce(lit(1.0) / (lit(60) + col("br")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("cr")), lit(0.0)))
            .as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("id").asc)
        .limit(10)
    }),

    // ---- 4-way reciprocal-rank fusion: BM25 + Dirichlet QL +
    // proximity (min_span ASC — closer is better) + cosine vector, each
    // an independently-oracled top-20 run, fused 1/(60 + rank) in a
    // fixed run order (Cormack SIGIR'09). Serving shape: runs are
    // bounded retrievals; the fusion joins four ≤20-row frames.
    "q_rrf_fusion4" -> ((s, d) =>
      rrfFusion4With(s, d,
        Knn.cosineTopK(Tables.embeddings(s, d), col("embedding"),
          queryVec(s, d), k = 20))),

    // ---- the SAME 4-way fusion with the vector leg SERVED from the
    // persisted cosine graph index (the 100 TB swap the brute-force
    // key's scaladoc promises): beam search over unit vectors →
    // bounded exact-cosine re-rank → fuse. Approximate at ef=100 ⇒
    // rows-only; the machinery is hash-PROVEN by the exhaustive
    // companion below.
    "q_rrf_fusion_ann" -> ((s, d) =>
      rrfFusion4With(s, d, annCosRun(s, d, kRun = 20, ef = 100))),

    // ---- the fused ANN serve HASH-PROVEN (the q_ann_graph_exhaustive
    // pattern composed through the fusion): ef = corpus size makes
    // every shard's layer-0 beam exhaustive and the 2k-candidate exact
    // re-rank replays the brute-force cosine expression bit-for-bit,
    // so the whole fused pipeline — persisted unit-vector index read,
    // resident beam serve, candidate fetch, re-rank, 4-way fusion —
    // must EQUAL q_rrf_fusion4: oracled against the IDENTICAL SQL.
    "q_rrf_fusion_ann_exhaustive" -> ((s, d) => {
      val n = Tables.embeddings(s, d).count().toInt
      rrfFusion4With(s, d, annCosRun(s, d, kRun = 20, ef = n))
    }),

    // ---- exact-phrase search over the positional inverted index:
    // per-term candidate-start extraction (filter pushed to the scan),
    // k-way (doc, start) equi-join intersection, per-doc hit counts —
    // the word-ORDER-exact complement to the BM25 bag-of-words family.
    "q_phrase_search" -> ((s, d) =>
      graft.operators.PhraseSearch.phraseCounts(Tables.documents(s, d),
          col("doc_id"), col("text"), Seq("hash", "join"))
        .orderBy("doc_id")),

    // ---- percolation / reverse search (the alerting & routing shape:
    // stored queries match INCOMING docs): each stored query is an AND
    // bag of terms; a doc matches iff it contains every term. The
    // stored-query term table is registry-sized -> broadcast; matching
    // is one distinct-terms join + a count-equality check against the
    // query's term count — never a per-(doc × query) scan. Queries are
    // id-derived from the shared keyword pool (deterministic).
    "q_percolate" -> ((s, d) => {
      import s.implicits._
      val queries = Seq(
        (1L, Seq("join", "filter")), (2L, Seq("window", "scan")),
        (3L, Seq("hash", "merge", "sort")), (4L, Seq("vector")))
      val qTerms = queries
        .flatMap { case (qid, ts) => ts.map(t => (qid, t, ts.length)) }
        .toDF("query_id", "term", "n_terms")
      graft.operators.Percolate.matches(Tables.documents(s, d),
          col("doc_id"), col("text"), qTerms)
        .orderBy("doc_id", "query_id")
    }),

    // ---- registry-scale percolation: the SAME stored-query semantics as
    // q_percolate, but NO registry broadcast — rules route through their
    // rarest corpus term (the Elasticsearch-percolator candidate
    // strategy), candidates form via one shuffled (term) join, each
    // verified against the rule's full AND bag. maxDf=4000 is the
    // term-selectivity valve (a rule whose RAREST term is hotter is a
    // full corpus scan by construction — excluded, audited via
    // Percolate.unservableRules); the oracle replicates the gate so a
    // trip still hash-matches at every SF.
    "q_percolate_shuffled" -> ((s, d) => {
      import s.implicits._
      val queries = Seq(
        (1L, Seq("join", "filter")), (2L, Seq("window", "scan")),
        (3L, Seq("hash", "merge", "sort")), (4L, Seq("vector")))
      val qTerms = queries
        .flatMap { case (qid, ts) => ts.map(t => (qid, t, ts.length)) }
        .toDF("query_id", "term", "n_terms")
      graft.operators.Percolate.matchesShuffled(Tables.documents(s, d),
          col("doc_id"), col("text"), qTerms, maxDf = 4000L)
        .orderBy("doc_id", "query_id")
    }),

    // ---- hybrid percolation router (round-12 verdict item 7): NO rule
    // excluded — selective rules serve through the shuffled rarest-term
    // path, all-hot-term rules route to the broadcast count-equality
    // leg; the unservableRules audit frame is empty by construction.
    // Output = the FULL q_percolate match set at every SF, so the
    // oracle is q_percolate's (no valve replication needed). maxDf=3860
    // splits the registry at sf0.1 (rule rarest-dfs straddle it there:
    // 3825/3849 cold vs 3866/3891 hot), is all-cold at the small SFs
    // and all-hot at sf1+ — the verify ladder exercises all-cold,
    // split, and all-hot routings of the same semantics.
    "q_percolate_hybrid" -> ((s, d) => {
      import s.implicits._
      val queries = Seq(
        (1L, Seq("join", "filter")), (2L, Seq("window", "scan")),
        (3L, Seq("hash", "merge", "sort")), (4L, Seq("vector")))
      val qTerms = queries
        .flatMap { case (qid, ts) => ts.map(t => (qid, t, ts.length)) }
        .toDF("query_id", "term", "n_terms")
      graft.operators.Percolate.matchesHybrid(Tables.documents(s, d),
          col("doc_id"), col("text"), qTerms, maxDf = 3860L)
        .orderBy("doc_id", "query_id")
    }),

    // ---- phrase hits with result SNIPPETS (the search-highlight
    // window): first-occurrence window of ±2 tokens around the match;
    // only matching docs pay the token-array fetch and bounded slice.
    "q_phrase_snippet" -> ((s, d) =>
      graft.operators.PhraseSearch.phraseSnippets(Tables.documents(s, d),
          col("doc_id"), col("text"), Seq("hash", "join"), ctx = 2)
        .orderBy("doc_id")),

    // ---- pseudo-relevance feedback / query expansion (Rocchio'71 /
    // RM-style): mine expansion terms from the BM25 top-10 feedback
    // docs, ranked by LIFT P(t|feedback)/P(t|corpus) — kept as one
    // exact integer cross-product ratio (the q_colloc_lift no-ln rule),
    // min-count 3 valve against rare-term noise, seed terms excluded.
    // Scale shape: feedback doc ids broadcast (10 rows); term counts
    // are the same two shuffles the BM25/LM family already pays; the
    // two 1-row totals ride the sanctioned scalar-subquery broadcast.
    "q_query_expand" -> ((s, d) => {
      val kws = Seq("join", "filter", "window", "scan")
      val docs = Tables.documents(s, d)
      val fbDocs = bm25Scores(s, d, kws)
        .orderBy(col("score").desc, col("doc_id").asc).limit(10)
        .select("doc_id")
      val terms = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      // totals derive from the count tables (Σ cn / Σ fn) instead of
      // re-tokenizing the corpus per scalar — two corpus passes saved,
      // and both consumers of each count table share one reused exchange
      val corpusCnt = terms.groupBy("term").agg(count(lit(1)).as("cn"))
      val corpusTot = corpusCnt.agg(sum("cn").as("ct"))
      val fbTerms = terms.join(broadcast(fbDocs), "doc_id")
      val fbCnt = fbTerms.groupBy("term").agg(count(lit(1)).as("fn"))
      val fbTot = fbCnt.agg(sum("fn").as("ft"))
      fbCnt.filter(col("fn") >= 3 && !col("term").isin(kws: _*))
        .join(corpusCnt, "term")
        .crossJoin(broadcast(corpusTot))
        .crossJoin(broadcast(fbTot))
        .withColumn("lift", (col("fn") * col("ct")).cast("double") /
          (col("ft") * col("cn")).cast("double"))
        .select(col("term"), col("lift"))
        .orderBy(col("lift").desc, col("term").asc)
        .limit(10)
    }),

    // ---- unigram LM quality score: mean corpus-probability of a doc's
    // tokens — the cheap LM-based quality signal (a doc of frequent,
    // ordinary tokens scores high; rare-token noise scores low). p(t) =
    // cnt(t)/total is exact double division; the per-doc mean folds in
    // TERM-SORTED order (the q_bm25_rank trick) so float accumulation
    // is cross-engine deterministic. Scale shape: unigram counts are one
    // shuffle on term; the count join is a shuffle join (vocab is NOT
    // broadcast-size at 100 TB); the per-doc regroup is the second
    // corpus shuffle — linear, no n².
    "q_lm_score" -> ((s, d) =>
      graft.operators.LmScore.lmScore(Tables.documents(s, d),
          col("doc_id"), col("text"))
        .orderBy("doc_id")),

    // ---- bigram stupid-backoff LM score (α = 1/4, an exact binary
    // fraction): the word-ORDER-sensitive quality signal — CCNet's real
    // filter is an n-gram LM; unigram q_lm_score can't see scrambled
    // text. Rational probabilities + (prev, cur)-sorted folds keep it
    // hash-oracle-able end to end.
    "q_lm_score2" -> ((s, d) =>
      graft.operators.LmScore.lmScore2(Tables.documents(s, d),
          col("doc_id"), col("text"))
        .orderBy("doc_id")),

    // ---- interpolated Kneser-Ney bigram LM score (the smoothing the
    // CCNet filter's actual KenLM models use): absolute discount D=3/4
    // (exact binary fraction) + continuation-probability interpolation;
    // exactly normalized (Σ_w P(w|v) = 1, LmScoreSpec). All model
    // tables derive from ONE bigram count shuffle.
    "q_lm_score_kn" -> ((s, d) =>
      graft.operators.LmScore.lmScoreKn(Tables.documents(s, d),
          col("doc_id"), col("text"))
        .orderBy("doc_id")),

    // ---- trigram MODIFIED Kneser-Ney (the actual shipped KenLM
    // config — Heafield 2011 / Chen & Goodman 1999 §3): order-specific
    // discounts D1/D2/D3+ from count-of-counts (exact IEEE trees, 3/4
    // fallback when the closed form is undefined), trigram → bigram
    // continuation → unigram continuation interpolation. ONE trigram
    // count shuffle; every lower-order table derives from it.
    "q_lm_score_kn3" -> ((s, d) =>
      graft.operators.LmScore.lmScoreKn3(Tables.documents(s, d),
          col("doc_id"), col("text"))
        .orderBy("doc_id")),

    // ---- collocation mining by lift (PMI's ratio kept rational — the
    // no-ln oracle rule; log only rescales the order): top bigram
    // associations above a min pair count. One uniform bigram-count
    // shuffle, unigram shuffle join, TakeOrderedAndProject top-k.
    "q_colloc_lift" -> ((s, d) =>
      graft.operators.LmScore.collocations(Tables.documents(s, d),
          col("doc_id"), col("text"), minCount = 5, topK = 100)
        .orderBy("rn")),

    // ---- per-doc lexical diversity: type-token ratio + Simpson
    // concentration λ = Σc²/n² (the RATIONAL entropy stand-in — log is
    // never hash-matchable); the gibberish/repetition quality signal
    // beside q_gopher_repetition's gram fractions.
    "q_token_diversity" -> ((s, d) =>
      graft.operators.CorpusStats.tokenDiversity(Tables.documents(s, d),
          col("doc_id"), col("text"))
        .orderBy("doc_id")),

    // ---- vocabulary growth curve (the Heaps-law saturation
    // diagnostic): cumulative distinct 3-gram types per doc-id decile —
    // does more data still buy new vocabulary? (unigrams of a template
    // corpus saturate in decile 1 — vacuous). Lead-window shingling +
    // one min-aggregate shuffle; the curve itself is a 10-row frame.
    "q_vocab_growth" -> ((s, d) =>
      graft.operators.CorpusStats.vocabGrowth(Tables.documents(s, d),
          col("doc_id"), col("text"))
        .orderBy("decile")),

    // ---- vocabulary-coverage signal: per-doc OOV rate against the
    // corpus' own deterministic top-50 unigram vocab (bounded top-k ⇒
    // broadcast-size by construction; membership join map-side).
    "q_oov_rate" -> ((s, d) =>
      graft.operators.LmScore.oovRate(Tables.documents(s, d),
          col("doc_id"), col("text"), vocabSize = 50)
        .orderBy("doc_id")),

    // ---- DSIR importance weights (Xie et al. 2023): every non-English
    // doc scored by how target-like (English) its hashed-unigram
    // profile is — fixed-point smoothed probability ratios, pure BIGINT
    // (see operators/Dsir.scala for the 100 TB shape + exactness notes).
    "q_dsir_weights" -> ((s, d) =>
      graft.operators.Dsir.importanceWeights(Tables.documents(s, d),
          col("doc_id"), col("text"), col("lang") === "en")
        .orderBy("doc_id")),

    // ---- DSIR over HASHED BIGRAMS — the paper's actual feature space
    // (Xie et al. §3): adjacent-token pairs through the same md5 mod-B
    // bucketing, making the weights word-ORDER-sensitive (a scrambled
    // twin scores differently — DsirSpec direction gate). Same
    // fixed-point BIGINT arithmetic, same additive marginals.
    "q_dsir_weights2" -> ((s, d) =>
      graft.operators.Dsir.importanceWeights(Tables.documents(s, d),
          col("doc_id"), col("text"), col("lang") === "en", gram = 2)
        .orderBy("doc_id")),

    // ---- CCNet head/middle/tail split: per-language LM-quality
    // terciles, rank-based cuts (integer arithmetic — exact, no
    // interpolated percentiles). One window shuffle on lang; the 100 TB
    // form is sampled thresholds broadcast (see perplexityBuckets doc).
    "q_ppl_buckets" -> ((s, d) =>
      graft.operators.LmScore.perplexityBuckets(Tables.documents(s, d),
          col("doc_id"), col("text"), col("lang"))
        .orderBy("doc_id")),

    // ---- the 100 TB form: tercile thresholds from a deterministic
    // hash sample, broadcast, map-side assign — the corpus is never
    // sorted per language (the only window runs over the sample).
    "q_ppl_buckets_sampled" -> ((s, d) =>
      graft.operators.LmScore.perplexityBucketsSampled(
          Tables.documents(s, d), col("doc_id"), col("text"), col("lang"),
          rate = 0.25)
        .orderBy("doc_id")),

    // ---- BPE-training pair counts: word counts once (corpus shuffle),
    // then adjacent char pairs over the DISTINCT-word vocab weighted by
    // frequency — every post-wordcount stage is vocab-bounded, the pair
    // agg alphabet²-bounded; top-k is TakeOrderedAndProject.
    "q_bpe_pairs" -> ((s, d) =>
      graft.operators.BpeStats.bpePairCounts(Tables.documents(s, d),
          col("text"), k = 40)),

    // ---- full BPE merge loop: 8 rounds of (vocab-bounded pair count →
    // argmax merge). EAGER at construction (driver loop, one 1-row
    // collect per round — the pqTopKRefinedFetch precedent); the oracle
    // replays the identical greedy fold as an unrolled 8-step CTE chain.
    "q_bpe_train" -> ((s, d) => {
      import s.implicits._
      bpeMerges(s, d).toDF("step", "lhs", "rhs", "cnt").orderBy("step")
    }),

    // ---- tokenize under the trained merges: the fold chain applies to
    // the DISTINCT vocab only (zero extra corpus passes), token counts
    // join back per-document — corpus × vocab hash join, nothing
    // quadratic. Same eager-training note as q_bpe_train.
    "q_bpe_encode" -> ((s, d) =>
      graft.operators.BpeStats.bpeTokens(Tables.documents(s, d),
          col("doc_id"), col("text"), bpeMerges(s, d))
        .orderBy("doc_id")),

    // ---- WordPiece encode under the BPE-trained units — the reference
    // model's ACTUAL tokenization scheme (all-MiniLM-L6-v2 is a BERT
    // tokenizer: greedy longest-match-first over '##'-marked subwords;
    // the BPE keys cover the unit TRAINING, this key covers the
    // encoding). Greedy loop = one fold over the DISTINCT word table
    // (vocab-bounded); oracle unrolls the identical loop as 16 chained
    // column stages (the Hilbert xy2d pattern) with the vocab CTE
    // MATERIALIZED.
    "q_wordpiece_encode" -> ((s, d) =>
      graft.operators.BpeStats.wordpieceTokens(Tables.documents(s, d),
          col("doc_id"), col("text"), wpVocab(s, d))
        .orderBy("doc_id")),

    // ---- unigram-LM (SentencePiece-style) training — the THIRD
    // tokenizer family (T5/Llama lineage) beside BPE and WordPiece:
    // seed candidates → integer-lexicographic Viterbi segmentation →
    // hard-EM usage re-estimation → prune → re-score (chars never
    // pruned). Every post-seed stage is vocabulary-sized; the oracle
    // replays the identical 2-round loop as unrolled 16-stage dp CTE
    // chains (the wordpiece pattern).
    "q_unigram_train" -> ((s, d) => {
      import s.implicits._
      ugVocab(s, d).toDF("unit", "usage")
        .orderBy(col("usage").desc, col("unit"))
    }),

    // ---- encode under the trained unigram vocab: Viterbi fold over the
    // DISTINCT word table only, counts join back per document — corpus ×
    // vocab hash join, nothing quadratic (the q_bpe_encode contract).
    "q_unigram_encode" -> ((s, d) =>
      graft.operators.UnigramLm.unigramTokens(Tables.documents(s, d),
          col("doc_id"), col("text"), ugVocab(s, d))
        .orderBy("doc_id")),

    // ---- one-pass data profiling: every metric for every column in a
    // single aggregate (map-side partials), driver-sized unpivot to long
    // form. Exact distincts (Expand) for the oracle; KMV is the
    // documented 100 TB swap.
    "q_profile" -> ((s, d) =>
      graft.operators.Profile.profile(Tables.documents(s, d),
          Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy("column")),

    // ---- deterministic quantile sketch: k-smallest-by-hash sample per
    // group (mergeable, order-independent), quartiles off the sorted
    // sample — reproducible bit-for-bit by the oracle, unlike randomized
    // reservoir/t-digest sketches.
    "q_sketch_quantile" -> ((s, d) =>
      Sketches.quantileSketch(s, Tables.orders(s, d), "o_orderpriority",
          "o_orderkey", "o_totalprice", k = 64, qs = Seq(0.25, 0.5, 0.75))
        .orderBy("o_orderpriority")),

    // ---- group-wise IQR outlier detection composed from the
    // deterministic quantile sketch: per-group [P25−IQR, P75+IQR]
    // fences (0.5×IQR — the classic 1.5× fences exceed min/max on this
    // bounded distribution, which would make the check vacuous) from the k-smallest-by-hash sample (broadcast-
    // size bounds table), then a map-side filter over the fact scan —
    // the numeric-quality gate of a data pipeline, and a demonstration
    // that the sketch composes. Sketch is a pure function of the input
    // ⇒ the whole query hash-matches.
    "q_outlier_iqr" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val bounds = Sketches.quantileSketch(s, o, "o_orderpriority",
          "o_orderkey", "o_totalprice", k = 64, qs = Seq(0.25, 0.75))
        .select(col("o_orderpriority"),
          (col("p75") + (col("p75") - col("p25")) * lit(0.5)).as("hi"),
          (col("p25") - (col("p75") - col("p25")) * lit(0.5)).as("lo"))
      o.join(broadcast(bounds), "o_orderpriority")
        .filter(col("o_totalprice") > col("hi") ||
          col("o_totalprice") < col("lo"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_outliers"),
          max(col("o_totalprice")).as("max_out"))
        .orderBy("o_orderpriority")
    }),

    // ---- connected components over the LSH pair graph: the real KEEP
    // decision for near-dup clusters — every member labeled with the
    // component min (drop-id2 over-keeps on chains banding didn't close).
    // Min-label propagation, one join + one min-groupBy per iteration.
    // pair input CHECKPOINTED (the q_release_funnel rule): the
    // component operators consume their pair frame twice (both edge
    // orientations / the id universe) — un-checkpointed, the whole LSH
    // band pipeline evaluated once per reference
    "q_dedup_components" -> ((s, d) =>
      Dedup.connectedComponents(
          Dedup.checkpointed(
            Dedup.lshCandidatePairs(Tables.documents(s, d), col("doc_id"),
              col("text"), maxBucket = LshMaxBucket)))
        .orderBy("id")),

    // ---- the same labeling via large-star/small-star contraction —
    // O(log² n) rounds instead of O(diameter), the deep-chain scale path
    // (a 1,000-link chain converges in ~10 rounds, DedupSpec). Oracled
    // against the SAME recursive-CTE SQL as q_dedup_components: both
    // variants must produce identical component minima.
    // ---- exact-substring span REMOVAL (Lee et al. 2021, the C4 move):
    // every 10-token run seen more than once in the corpus is dropped
    // from every document and the text is rebuilt from the surviving
    // tokens — the removal half the winnowing/boilerplate detectors
    // stop short of. One uniform shingle-hash shuffle, coverage math
    // inside the row.
    "q_dedup_substring" -> ((s, d) =>
      Dedup.removeDuplicateSpans(Tables.documents(s, d), col("doc_id"),
          col("text"), n = 10)
        .orderBy("doc_id")),

    // ---- keep-best survivorship over the near-dup clusters: component
    // labels from the O(log²) star contraction, representative = argmax
    // AGGREGATE (map-side partial min over a (−quality, id) struct — a
    // boilerplate mega-cluster never forces a per-component sort).
    // pairs come from the SESSION band table (identical pair set to
    // lshCandidatePairs; q_dedup_minhash_bucketed proves the equality) —
    // the recurring-ingest form: representatives recomputed per wave
    // read pre-shuffled buckets, no re-hash of the corpus.
    "q_cluster_rep" -> ((s, d) =>
      Dedup.clusterRepresentatives(Tables.documents(s, d), col("doc_id"),
          length(col("text")),
          // checkpointed: the q_dedup_components pair-input rule (the
          // star contraction inside reads the pair frame twice)
          Dedup.checkpointed(
            Dedup.lshPairsFromBandTable(s, bandTable(s, d),
              maxBucket = LshMaxBucket)))
        .orderBy("doc_id")),

    "q_dedup_components_star" -> ((s, d) =>
      Dedup.connectedComponentsStar(
          // checkpointed: the q_dedup_components pair-input rule
          Dedup.checkpointed(
            Dedup.lshCandidatePairs(Tables.documents(s, d), col("doc_id"),
              col("text"), maxBucket = LshMaxBucket)))
        .orderBy("id")),

    // ---- SimHash fingerprints (near-identical token multisets ⇒ small
    // Hamming distance). Pure map-side — no shuffle at all.
    "q_dedup_simhash" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Dedup.simhash16(col("text")).as("simhash"))
        .orderBy("doc_id")),

    // ---- simhash near-dup PAIRS via the pigeonhole Hamming join
    // (Manku et al. WWW'07): d+1 contiguous fingerprint blocks, bucket
    // self-join per block, exact bit_count(xor) filter — Σ bucket²
    // candidate work, never corpus², with the hot-bucket valve audited
    // by hammingOversizedBuckets. Completes the simhash family:
    // q_dedup_simhash emits the prints, this key emits the dup pairs.
    "q_simhash_pairs" -> ((s, d) =>
      Dedup.hammingPairs(
          graft.operators.Spread.forKernel(
            Tables.documents(s, d).select(col("doc_id"), col("text")))
            .select(col("doc_id"), Dedup.simhash16(col("text")).as("fp")),
          col("doc_id"), col("fp"), bits = 16, maxHamming = 2,
          maxBucket = 512)
        .orderBy("id1", "id2")),

    // ---- blocked n-gram Jaccard pairs. Metadata blocking bounds the n²
    // ONLY as far as the largest block: the maxBlock valve (512 — 4.5× the
    // largest sf0.1 block, so nothing is dropped at test scales; the
    // oracle replicates the gate so a drop would still hash-match)
    // excludes hot blocks, which the jaccardOversizedBlocks audit surfaces
    // and jaccardLsh (q_ngram_jaccard_lsh) handles with
    // probability-bounded buckets. Soak-measured: the unvalved form is
    // 294 s at 50k docs; valved, the hot blocks route to LSH.
    "q_ngram_jaccard" -> ((s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d), col("doc_id"), col("text"),
          blockCols = Seq("lang", "source"), n = 3, threshold = 0.2,
          maxBlock = 512)
        .orderBy("id1", "id2")),

    // ---- MinHash-ESTIMATED Jaccard (Broder's unbiased estimator):
    // candidate pairs scored from the 8-slot signatures alone — the
    // fixed-bytes-per-doc scoring form for corpora where fetching full
    // shingle sets is the bottleneck. m/8 is exact binary arithmetic.
    // Valved like q_dedup_minhash (the sf10 soak's 175M-pair run was
    // this key unvalved); the oracle replicates the gate.
    "q_minhash_est" -> ((s, d) =>
      Dedup.minhashJaccardEst(Tables.documents(s, d), col("doc_id"),
          col("text"), maxBucket = LshMaxBucket)
        .orderBy("id1", "id2")),

    // ---- LSH-bucketed Jaccard: the scale composition the jaccardPairs
    // docstring promises — LSH banding supplies the blocks (bounded
    // bucket sizes on ANY corpus skew), exact Jaccard scores only the
    // candidate pairs. Oracled: the whole composition is deterministic.
    "q_ngram_jaccard_lsh" -> ((s, d) =>
      Dedup.jaccardLsh(Tables.documents(s, d), col("doc_id"), col("text"),
          n = 3, threshold = 0.2, maxBucket = LshMaxBucket)
        .orderBy("id1", "id2")),

    // ---- the SAME Hamming pairs served from the persisted BUCKETED
    // fingerprint table (write-once layout, session-cached): the
    // self-join rides the bucketed scan's (bi, bv) hash distribution —
    // the recurring-dedup shuffle eliminated, identical output ⇒
    // identical oracle (the q_dedup_minhash_bucketed pattern).
    "q_simhash_pairs_bucketed" -> ((s, d) =>
      Dedup.hammingPairsFromFingerprintTable(s, fpTable(s, d),
          maxHamming = 2, maxBucket = 512)
        .orderBy("id1", "id2")),

    // ---- containment (overlap-coefficient) near-dup pairs: the
    // size-skew complement to Jaccard — a short doc quoted inside a
    // long one scores overlap ≈ 1 where Jaccard ≈ |A|/|B| ≈ 0.
    // df-valved inverted-index blocking (Σ C(df,2) candidate bound,
    // valve audited by containmentOversizedShingles), exact scoring on
    // the full shingle sets via linear fetch joins.
    "q_containment_pairs" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), col("doc_id"),
          col("text"), n = 3, maxDf = 64, threshold = 0.8)
        .orderBy("id1", "id2")),

    // ---- unified valve audit: every hot-key valve's exclusion frame,
    // one table per run — lsh buckets, jaccard metadata blocks, hamming
    // fingerprint buckets, containment shingle dfs, fuzzy-join prefix
    // blocks, percolation routing terms — each at its DECLARED key's
    // exact params, so every silent-exclusion decision the engine can
    // make is visible (and oracle-checked) in one place. The six
    // exact-param frames are empty at test scales by design (the valves
    // sit above every shaped-corpus maximum) and populate exactly when
    // a 100×-replication regime trips a gate; a seventh deliberately
    // TIGHT jaccard frame (maxBlock 8) keeps the key non-vacuous at
    // every SF so the hash gate always checks real rows.
    "q_valve_audit" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val lsh = Dedup.lshOversizedBuckets(docs, col("doc_id"), col("text"),
          n = 3, numHashes = 8, bands = 4, maxBucket = LshMaxBucket)
        .select(lit("lsh_bucket").as("valve"),
          concat_ws(":", col("band_idx").cast("string"),
            col("band_key").cast("string")).as("bucket"),
          col("n").cast("long").as("n"))
      // NULL-safe bucket label (coalesce BOTH here and in the oracle):
      // concat_ws silently skips NULLs while SQL || yields NULL — a
      // parity break that would surface exactly in the 100×-replication
      // regime this key exists to audit (documents.lang/source are
      // non-null in the shaped corpus, but the frame must not depend on
      // that invariant).
      def blockLabel =
        concat_ws(":", coalesce(col("lang"), lit("")),
          coalesce(col("source"), lit("")))
      val jac = Dedup.jaccardOversizedBlocks(docs, col("doc_id"),
          Seq("lang", "source"), maxBlock = 512)
        .select(lit("jaccard_block").as("valve"), blockLabel.as("bucket"),
          col("n").cast("long").as("n"))
      // a deliberately TIGHT companion valve (maxBlock 8 vs the declared
      // key's 512) so this audit key is NON-VACUOUS at every SF: the six
      // exact-param frames are legitimately empty at shaped-corpus
      // scales, and an empty-vs-empty hash match proves nothing
      // (round-12 verdict item 3). Bounded output at any SF: ≤ one row
      // per distinct (lang, source).
      val jacTight = Dedup.jaccardOversizedBlocks(docs, col("doc_id"),
          Seq("lang", "source"), maxBlock = 8)
        .select(lit("jaccard_block_tight").as("valve"),
          blockLabel.as("bucket"), col("n").cast("long").as("n"))
      val ham = Dedup.hammingOversizedBuckets(
          graft.operators.Spread.forKernel(
            docs.select(col("doc_id"), col("text")))
            .select(col("doc_id"), Dedup.simhash16(col("text")).as("fp")),
          col("doc_id"), col("fp"), bits = 16, maxHamming = 2,
          maxBucket = 512)
        .select(lit("hamming_bucket").as("valve"),
          concat_ws(":", col("bi").cast("string"),
            col("bv").cast("string")).as("bucket"),
          col("n").cast("long").as("n"))
      val cont = Dedup.containmentOversizedShingles(docs, col("doc_id"),
          col("text"), n = 3, maxDf = 64)
        .select(lit("containment_shingle").as("valve"),
          col("h").cast("string").as("bucket"),
          col("df").cast("long").as("n"))
      val fz = graft.operators.FuzzyJoin.oversizedBlocks(
          Tables.customer(s, d).select(col("c_custkey").as("id"),
            substring(col("c_name"), 1, 16).as("_blk"),
            col("c_name").as("s")),
          Seq("_blk"), maxBlock = 512)
        .select(lit("fuzzy_block").as("valve"), col("_blk").as("bucket"),
          col("n").cast("long").as("n"))
      val qTerms = Seq(
        (1L, Seq("join", "filter")), (2L, Seq("window", "scan")),
        (3L, Seq("hash", "merge", "sort")), (4L, Seq("vector")))
        .flatMap { case (qid, ts) => ts.map(t => (qid, t, ts.length)) }
        .toDF("query_id", "term", "n_terms")
      val perc = graft.operators.Percolate.unservableRules(docs,
          col("doc_id"), col("text"), qTerms, maxDf = 4000L)
        .select(lit("percolate_rule").as("valve"),
          concat_ws(":", col("query_id").cast("string"), col("term"))
            .as("bucket"),
          col("routing_df").cast("long").as("n"))
      lsh.union(jac).union(jacTight).union(ham).union(cont).union(fz)
        .union(perc)
        .orderBy("valve", "bucket")
    }),

    // ---- cross-doc boilerplate shingles (C4-style cleanse step): word
    // 3-grams appearing in ≥5 distinct docs. One uniform shuffle with
    // map-side partial counts.
    "q_boilerplate_shingles" -> ((s, d) =>
      Dedup.frequentShingles(Tables.documents(s, d), col("doc_id"),
          col("text"), n = 3, minDocs = 5)
        .orderBy("sh")),

    // ---- MOSS winnowing fingerprints: min shingle hash per sliding
    // window — any shared ≥ w+n−1-token run yields a shared fingerprint.
    // Map-side; the robust-partial-overlap complement to q_text_fingerprint's
    // whole-doc rolling hash.
    "q_winnow_fingerprint" -> ((s, d) =>
      Dedup.winnowedFingerprints(Tables.documents(s, d), col("doc_id"),
          col("text"), n = 3, w = 4)
        .orderBy("doc_id", "fp")),

    // ---- within-doc repetition ratio (RefinedWeb/Gopher quality
    // signal): 1 − distinct/total 3-gram shingles, map-side only.
    "q_text_repetition" -> ((s, d) =>
      Dedup.repetitionRatio(Tables.documents(s, d), col("doc_id"),
          col("text"))
        .orderBy("doc_id")),

    // ---- Gopher-style quality rule flags (Rae et al. 2021): the rule
    // family every web-scale curation pipeline applies before
    // model-based scoring — word-count bounds, mean-word-length bounds,
    // stopword floor, repeated-3-gram cap. All INTEGER arithmetic
    // (cross-multiplied thresholds), so no float ratio ever decides a
    // flag; entirely map-side at any corpus size.
    "q_gopher_rules" -> ((s, d) =>
      QualityRules.gopherFlags(Tables.documents(s, d), col("doc_id"),
          col("text"))
        .orderBy("doc_id")),

    // ---- Gopher repetition-signal suite (Rae et al. 2021 A1): the
    // graded repetition measures beside q_gopher_rules's binary cap —
    // top-2/3-gram char fraction, duplicated-5-gram char coverage. One
    // codegen'd lead-window pass for every gram grain, one uniform
    // (doc, n, hash) count shuffle, in-row coverage math; fractions are
    // exact int/int divisions so they hash-match unrounded.
    "q_gopher_repetition" -> ((s, d) =>
      QualityRules.gopherRepetition(Tables.documents(s, d), col("doc_id"),
          col("text"))
        .orderBy("doc_id")),

    // ---- the C4 rule cleanse (Raffel et al. 2020 §2.2): LINE-level
    // retention (terminal punctuation, ≥3 words, no "javascript") plus
    // page-level drops ("lorem ipsum", '{', <5 surviving lines). Page
    // structure synthesized id-derived (the q_dedup_lines pattern):
    // token-slice body lines framed by banner/footer lines, with the
    // drop markers injected on doc_id moduli so every rule fires. The
    // whole cleanse is ONE higher-order-function projection over the
    // line array — zero shuffles, scan-speed at 100 TB.
    "q_c4_filters" -> ((s, d) =>
      // spread the scan: the line predicates are interpreted HOFs fused
      // onto a 1-row-group source — single-task without the barrier
      // (40.2 s → 9.7 s at sf10, measured)
      graft.operators.C4Filters.clean(
          graft.operators.Spread.forKernel(Tables.documents(s, d))
            .withColumn("_pg", c4Page),
          col("doc_id"), col("_pg"))
        .orderBy("doc_id")),

    // ---- cross-doc LINE-level dedup (the CCNet/RefinedWeb line scrub):
    // lines shared by >= 2 docs are boilerplate and removed from every
    // doc, the clean remainder kept in order. Lined corpus synthesized
    // id-derived (the url_normalize proof pattern): a per-source banner
    // and per-lang footer frame each doc's body — banners/footers
    // duplicate across docs and must vanish; unique bodies survive
    // (exact-dup bodies legitimately vanish too, same as the oracle).
    "q_dedup_lines" -> ((s, d) => {
      val lined = concat_ws("\n",
        concat(lit("about the "), col("source"), lit(" network")),
        col("text"),
        concat(lit("all rights reserved "), col("lang")))
      Dedup.dedupLines(
          Tables.documents(s, d).withColumn("_lt", lined),
          col("doc_id"), col("_lt"))
        .orderBy("doc_id")
    }),

    // ---- semantic dedup on the UNLABELED path: near-dup cosine pairs
    // blocked by the TRAINED k-means cell (not the synthetic label), drop
    // the higher id of each pair (0.4 flags the closest tail of this
    // synthetic corpus, which has no true near-dups — max pair cosine
    // 0.51). Blocks from the data itself — the only
    // option on a real corpus. Approximate (cell-blocked) ⇒ rows-only.
    "q_semantic_dedup" -> ((s, d) => {
      // blocks served from the persisted cell-partitioned index — no
      // per-invocation corpus re-assignment (same deterministic cells)
      val (data, _) = Ann.readIvfIndex(s, ivfIndexDir(s, d))
      val indexed = data.withColumn("cell", col("cell").cast("int"))
      val drop = Dedup.cosineNearDupPairsNative(indexed, col("vec_id"),
          col("embedding"), col("cell"), threshold = 0.4)
        .select(col("id2").as("drop_id")).distinct()
      indexed.join(drop, indexed("vec_id") === drop("drop_id"), "left_anti")
        .select(col("vec_id"), col("cell"))
        .orderBy("vec_id")
    }),

    // ---- exhaustive-parameter hash-proof of the semantic-dedup
    // machinery (the q_knn_join_exhaustive pattern, SURVEY §7.4): a
    // CONSTANT blocking cell makes cell blocking a no-op, so the native
    // normalized-cosine pair kernel + drop-higher-id survivorship run
    // all-pairs over the 1-in-5 sample and the survivor set is exactly
    // SQL-expressible. The only thing q_semantic_dedup adds on top is
    // the data-dependent k-means blocking — approximate by design.
    "q_semantic_dedup_exhaustive" -> ((s, d) => {
      val sample = Tables.embeddings(s, d).filter(col("vec_id") % 5 === 0)
      val drop = Dedup.cosineNearDupPairsNative(sample, col("vec_id"),
          col("embedding"), lit(0), threshold = 0.25)
        .select(col("id2").as("drop_id")).distinct()
      sample.join(drop, sample("vec_id") === drop("drop_id"), "left_anti")
        .select(col("vec_id"))
        .orderBy("vec_id")
    }),

    // ---- benchmark decontamination: corpus docs sharing any 3-gram with
    // the pseudo-heldout slice (doc_id % 97 = 0). Broadcast semi join on
    // the shingle hash.
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminatedDocs(
          docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 97 === 0), col("text"), n = 3)
        .orderBy("doc_id")
    }),

    // ---- graded contamination fraction (Brown et al. 2020 appendix
    // C): per-doc fraction of distinct 3-grams shared with the heldout
    // slice — grade-then-threshold instead of drop-on-any-hit.
    "q_contamination_frac" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationFraction(
          docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 97 === 0), col("text"), n = 3)
        .orderBy("doc_id")
    }),

    // ---- DSIR selection endpoint: Bernoulli importance RESAMPLING —
    // keep each raw doc with probability ∝ its dsir weight (rate =
    // w / max_w, the q_sample_weighted integer-hash acceptance with a
    // data-derived per-row rate). The paper's Gumbel-top-k draw needs
    // log (never hash-matchable); Bernoulli-∝-weight is the standard
    // acceptance-sampling variant of the same resampling step. max_w
    // is one driver-collected row (bounded-collect contract).
    "q_dsir_select" -> ((s, d) => {
      // checkpoint the weights frame: max_w (a driver scalar) and the
      // acceptance sample both read the materialized weights — the
      // corpus is profiled once and the weight groupBy runs once per
      // invocation, not once per consumer
      val w = Dedup.checkpointed(
        graft.operators.Dsir.importanceWeights(Tables.documents(s, d),
          col("doc_id"), col("text"), col("lang") === "en"))
      // max_w rides a LAZY 1-row broadcast crossJoin (the bm25 avgdl
      // shape) instead of an eager driver collect — one sequential job
      // fewer per invocation; long→double cast and the division are the
      // identical IEEE ops, and an empty weights frame yields a NULL
      // max ⇒ the sample filter drops every row (the former empty-case
      // behavior, minus the collect()(0) NPE hazard)
      val mx = w.agg(max("dsir_weight").as("_mx"))
      graft.operators.Sampling.weightedSample(
          w.crossJoin(broadcast(mx)), col("doc_id"),
          col("dsir_weight").cast("double") / col("_mx").cast("double"))
        .select("doc_id", "dsir_weight")
        .orderBy("doc_id")
    }),

    // ---- SPAN-level decontamination (the actual C4/Lee et al. scrub):
    // where q_decontaminate drops whole docs sharing any shingle with
    // the heldout slice, this excises only the contaminated n-token
    // spans and keeps the clean remainder — the removeDuplicateSpans
    // machinery with the dup-hash set sourced from the benchmark. The
    // heldout side is tiny, so its span set broadcasts into a semi
    // join; the corpus never shuffles on the span hash.
    "q_decontaminate_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.removeContaminatedSpans(
          docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 97 === 0), col("doc_id"), col("text"),
          n = 10)
        .orderBy("doc_id")
    }),

    // ---- embedding-cosine near-dup pairs, label-blocked, 20% sample
    // (full blocked variant is the operator; the sample keeps the oracle
    // tractable). NATIVE per-pair kernel (normalize once per row, cos =
    // 1 − ‖â−b̂‖²/2 through the codegen'd squared-L2): the HOF form ran
    // the interpreted cosine INSIDE the join predicate (Catalyst fuses
    // the threshold filter into the SMJ condition) — fine at oracle
    // blocks, a 45-min stall at the sf10 100×-replication pair counts
    // (caught by the round-12 full-inventory sf10 verify). The oracle
    // replays the native float path (the q_semantic_dedup recipe).
    "q_embed_neardup" -> ((s, d) =>
      Dedup.cosineNearDupPairsNative(
          Tables.embeddings(s, d).filter(col("vec_id") % 5 === 0),
          col("vec_id"), col("embedding"), col("label"), threshold = 0.25)
        .orderBy("id1", "id2")),

    // ---- hyperplane-LSH embedding near-dup: the metadata-free scale
    // path — blocking comes from the data itself (20 Rademacher
    // hyperplane signs, md5-derived so DuckDB recomputes them from
    // scratch), 2 bands × 10 bits, candidates from bucket-local pair
    // gen, exact cosine on candidates only. Deterministic end to end ⇒
    // fully hash-checked; unlike metadata blocking this survives a
    // corpus with one hot (lang, source) block. center=0.5 splits the
    // [0,1]-uniform components evenly across each hyperplane.
    // Band width tuned 8→10 bits (round 5, measured at sf0.1): 4× fewer
    // chance collisions per band cuts candidate pairs 34,374 → 18,064 —
    // a strict SUBSET of the 8-bit output; every dropped pair is
    // chance-collision tail near the 0.25 random-cosine floor — and
    // runtime 2.3 → 0.8 s. The recall trade is the banding formula
    // (P[miss] = (1−p^10)² vs (1−p^8)²), not a behavior change: the
    // same exact cosine scores whatever collides.
    // maxBucket=1024 is the hot-bucket valve, live on the DECLARED key
    // since round 9: the sf10 soak OOM'd a 64 GB driver because the
    // 2^bandBits keyspace is FIXED (1024 keys/band) while bucket size
    // grows linearly with the corpus — a 64k-member bucket explodes
    // 2×10⁹ pair structs from one grouped row. The cap is 1.6× the
    // largest sf0.1 bucket (641), so nothing drops at bench scale; the
    // oracle replicates the gate (a drop still hash-matches) and
    // embedLshOversizedBuckets audits what a hot corpus loses. The
    // 100 TB sizing rule lives in the operator scaladoc: grow bandBits
    // with log₂(n) or exact-dedup first.
    "q_embed_neardup_lsh" -> ((s, d) =>
      Dedup.embedLshNearDupPairs(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), threshold = 0.25,
          nPlanes = 20, bandBits = 10, center = 0.5, maxBucket = 1024)
        .orderBy("id1", "id2")),

    // ---- top-k per group via bounded-buffer Aggregator (no per-group
    // sort; shuffle carries ≤ k rows per group per task). Oracle = the
    // window formulation — same result, different physical plan.
    "q_topk_per_group" -> ((s, d) =>
      TopK.topKPerGroup(s, Tables.orders(s, d),
          "o_custkey", "o_orderkey", "o_totalprice", k = 3)
        .orderBy("o_custkey", "rn")),

    // ---- relational completeness: semi/anti/outer joins, rollup, set ops.
    // Semi/anti compile to broadcast/shuffled hash joins with no payload
    // from the right side — at scale they're the cheapest existence checks.
    "q_join_semi" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      Tables.lineitem(s, d)
        .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q_join_anti" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")),

    "q_join_left_outer" -> ((s, d) => {
      val perNation = Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      Tables.nation(s, d)
        .join(perNation, col("n_nationkey") === col("c_nationkey"),
          "left_outer")
        .select(col("n_name"), coalesce(col("n_cust"), lit(0L)).as("n_cust"))
        .orderBy("n_name")
    }),

    // rollup: subtotal rows surfaced via coalesce to avoid cross-engine
    // NULL-ordering divergence in the sort. Two-phase: pre-aggregate at
    // the finest grain (a handful of groups), THEN rollup the tiny frame —
    // a direct rollup runs Expand over the scan, tripling every input row
    // into the aggregate (measured 2.7 s → 1.0 s at sf0.1; at 100 TB the
    // Expand would triple the shuffle). DECIMAL stays exact through the
    // re-aggregation, so values are bit-identical to the one-phase form.
    "q_agg_rollup" -> ((s, d) => {
      val base = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("_cnt"),
          sum(col("l_quantity").cast("decimal(18,4)")).as("_sq"))
      base.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("_cnt")).as("cnt"),
          sum(col("_sq")).cast("double").as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("cnt"), col("sum_qty"))
        .orderBy("rflag", "lstatus")
    }),

    // month-level rollup: date_trunc + group — the standard reporting bucket.
    "q_date_trunc" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(date_format(date_trunc("month", col("o_orderdate")),
          "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("month")),

    // pivot: order counts per status spread across priority columns.
    "q_pivot" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map(
          "1-URGENT" -> "p1", "2-HIGH" -> "p2", "3-MEDIUM" -> "p3",
          "4-NOT SPECIFIED" -> "p4", "5-LOW" -> "p5"))
        .orderBy("o_orderstatus")),

    "q_set_intersect" -> ((s, d) =>
      Tables.documents(s, d).filter(col("lang") === "en").select("doc_id")
        .intersect(Tables.documents(s, d).filter(col("source") === "src3")
          .select("doc_id"))
        .orderBy("doc_id")),

    "q_set_except" -> ((s, d) =>
      Tables.documents(s, d).filter(col("lang") === "en").select("doc_id")
        .except(Tables.documents(s, d).filter(col("source") === "src3")
          .select("doc_id"))
        .orderBy("doc_id")),

    // ---- PII-style redaction: email + long digit runs masked map-side.
    "q_text_redact" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"),
            lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"), lit("<EMAIL>")),
          lit("[0-9]{3,}"), lit("<NUM>")).as("redacted"))
        .orderBy("doc_id")),

    // ---- multimodal metadata extraction over binary payloads.
    "q_multimodal_meta" -> ((s, d) =>
      Multimodal.metaColumns(
          Multimodal.attachPayload(Tables.documents(s, d)))
        .orderBy("doc_id")),

    // ---- REAL image decode, hash-proven: every doc gets a genuine
    // PNG/JPEG payload (javax.imageio encode, dims a pure function of
    // doc_id), the batched kernel DECODES the bytes, and width/height
    // read from the pixels must equal the oracle's arithmetic — the
    // encode→decode round trip is what's being verified.
    "q_multimodal_decode" -> ((s, d) =>
      Multimodal.decodeImagePartitions(s,
          Multimodal.attachImagePayload(s, Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"))
        .orderBy("doc_id")),

    // ---- perceptual average-hash over REAL decoded pixels (PNG docs —
    // lossless, so the oracle replays decode→blocks→bits arithmetically;
    // JPEG's lossy pixels are codec-defined and stay spec-gated). The
    // integer cross-multiplied mean test makes the 64 bits exact.
    "q_image_phash" -> ((s, d) =>
      Multimodal.imagePhashPartitions(s,
          Multimodal.attachImagePayload(s,
            Tables.documents(s, d).filter(col("doc_id") % 2 === 0)))
        .toDF()
        .select(col("doc_id"), col("phash_hi"), col("phash_lo"))
        .orderBy("doc_id")),

    // ---- perceptual image dedup: every 100th doc is the same scene
    // "re-saved with a one-pixel edit" (folded-seed PNGs) — byte/digest
    // dedup sees all-distinct payloads, the aHash groups the twins
    // (a block MEAN shrugs off a ±1 single-pixel edit unless the block
    // sits exactly on the mean boundary — and the oracle replays even
    // that case bit-for-bit). The multimodal member of the dedup family.
    "q_image_phash_dedup" -> ((s, d) =>
      Multimodal.imagePhashPartitions(s,
          Multimodal.attachImagePayloadFolded(s, Tables.documents(s, d),
            k = 100))
        .toDF()
        .groupBy("phash_hi", "phash_lo")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id"))
        .orderBy("keep_id")),

    // ---- REAL audio decode: deterministic PCM → genuine RIFF/WAVE bytes
    // (javax.sound encode in a Dataset map) → partition-batched container
    // parse; sample counts are a pure function of doc_id, so DuckDB
    // verifies the encode→decode round trip arithmetically — the audio
    // twin of q_multimodal_decode.
    "q_multimodal_audio" -> ((s, d) =>
      Multimodal.decodeAudioPartitions(s,
          Multimodal.attachAudioPayload(s, Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("sample_rate"), col("n_channels"),
          col("n_samples"), col("duration_us"))
        .orderBy("doc_id")),

    // ---- REAL video decode: deterministic GMJ1 (MJPEG-style) container
    // — length-prefixed genuine JPEG frames — parsed and EVERY frame
    // ImageIO-decoded in the batched kernel; frame count and dims are
    // pure functions of doc_id, so DuckDB verifies the container
    // round trip arithmetically — the video twin of q_multimodal_decode.
    "q_multimodal_video" -> ((s, d) =>
      Multimodal.decodeVideoPartitions(s,
          Multimodal.attachVideoPayload(s, Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("n_frames"), col("width"),
          col("height"), col("duration_us"))
        .orderBy("doc_id")),

    // ---- REAL INTER-frame video decode: deterministic GXD1 container —
    // PNG keyframe + deflate-compressed XOR pixel deltas — where decode
    // reconstructs EVERY frame by XOR-chaining from the keyframe and
    // verifies a per-frame CRC32 (pixel-exact reconstruction is proved,
    // not assumed); frame count and dims are pure functions of doc_id,
    // so DuckDB verifies the round trip arithmetically.
    "q_multimodal_video2" -> ((s, d) =>
      Multimodal.decodeDeltaVideoPartitions(s,
          Multimodal.attachDeltaVideoPayload(s, Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("n_frames"), col("width"),
          col("height"), col("duration_us"))
        .orderBy("doc_id")),

    // ---- frame sampling: explode kept frame indices from metadata only.
    "q_multimodal_frames" -> ((s, d) =>
      Multimodal.sampleFrames(
          Multimodal.metaColumns(
            Multimodal.attachPayload(Tables.documents(s, d))), stride = 4)
        .orderBy("doc_id", "frame_idx")),

    // ---- resize planning in integer math (aspect-fit into 224²).
    "q_multimodal_resize" -> ((s, d) =>
      Multimodal.resizePlan(
          Multimodal.metaColumns(
            Multimodal.attachPayload(Tables.documents(s, d))), target = 224L)
        .orderBy("doc_id")),

    // ---- feature-hash text embedding (V1's dataflow, fully in-engine and
    // oracle-checked). Map-side only; exploded to scalars for bit-stable
    // cross-engine comparison.
    "q_feature_hash" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(featureHashEmbeddingD(col("text"), 8)).as(Seq("pos", "v")))
        .select(col("doc_id"), col("pos"), floorRound6(col("v")).as("v"))
        .orderBy("doc_id", "pos")),

    // ---- IVF approximate kNN on an UNLABELED corpus: deterministic
    // Lloyd's k-means trains the cell structure, vectors are assigned to
    // their nearest centroid, the query probes the 2 nearest cells, exact
    // top-k within (partition pruning when the table is partitioned by
    // cell). Approximate ⇒ rows-only check per SURVEY §5.2; recall vs
    // brute force is asserted in KnnSpec. The trained index is shared
    // with q_knn_join_ivf via [[ivfIndex]] — train once, query many, the
    // lifecycle a persisted ANN store actually has.
    "q_ann_ivf" -> ((s, d) => {
      // served from the PERSISTED cell-partitioned index: the probe
      // filter prunes the scan to nProbe of the cell directories
      // (PartitionFilters, PlanSpec-asserted) — no full-corpus scan, no
      // per-invocation cell re-assignment. Same deterministic training
      // as the in-session path, so results are identical.
      val (data, cents) = Ann.readIvfIndex(s, ivfIndexDir(s, d))
      Ann.ivfTopK(data, col("cell"), col("embedding"), cents,
          queryVec(s, d), k = 10, nProbe = 2)
        .select(col("vec_id"), col("label"), col("dist"))
    }),

    // ---- the IVF SERVING shape HASH-PROVEN (q_knn_join_exhaustive
    // pattern applied to the single-query serve): with nProbe = the
    // index's k-means k every cell is probed, so the persisted-index
    // read, probe selection, partition-pruned cell scan, and exact
    // top-k must together EQUAL brute force — oracled against the same
    // DuckDB SQL as q_knn_bruteforce. A green row proves the persisted
    // serving path end to end; the recall test then covers only the
    // deliberate nProbe<k approximation.
    "q_ann_ivf_exhaustive" -> ((s, d) => {
      val (data, cents) = Ann.readIvfIndex(s, ivfIndexDir(s, d))
      Ann.ivfTopK(data, col("cell"), col("embedding"), cents,
          queryVec(s, d), k = 10, nProbe = 8) // = k-means k: every cell
        .select(col("vec_id"), col("label"), col("dist"))
    }),

    // ---- sharded NSW graph ANN — the HNSW-class counterpart of the
    // reference's actual index (hnswlib, M=16/ef=100; BASELINE.md rows
    // 4-5). Per-shard beam search, ef×shards rows to the driver merge.
    // Approximate ⇒ rows-only; determinism, the exhaustive-beam==exact
    // machinery proof, and recall >= IVF-PQ are asserted in GraphAnnSpec.
    "q_ann_graph" -> ((s, d) => {
      // served EXCHANGE-FREE from the persisted index via the RESIDENT
      // tier: shard-dir-aligned read, no repartition over the
      // corpus-sized graph, and repeat queries skip the parquet decode
      // entirely (executor-side shard cache, fingerprint-invalidated —
      // GraphAnnSpec plan + cache assertions)
      val hits = GraphAnn.graphTopKResident(s, graphIndexDir(s, d),
        queryVec(s, d), k = 10, ef = 100)
      hits.join(Tables.embeddings(s, d).select(col("vec_id"), col("label")),
          Seq("vec_id"))
        .select(col("vec_id"), col("label"), col("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
    }),

    // ---- the graph SERVING shape HASH-PROVEN: ef = corpus size makes
    // every shard's layer-0 beam exhaustive over its graph, so the
    // persisted-index resident serve must EQUAL brute force — the
    // q_graph_join_exhaustive proof applied to the single-query path
    // (same empirical caveat as that key: exhaustive-equals-exact
    // holds for the built graph, asserted here as a hash row).
    "q_ann_graph_exhaustive" -> ((s, d) => {
      val n = Tables.embeddings(s, d).count().toInt
      val hits = GraphAnn.graphTopKResident(s, graphIndexDir(s, d),
        queryVec(s, d), k = 10, ef = n)
      hits.join(Tables.embeddings(s, d).select(col("vec_id"), col("label")),
          Seq("vec_id"))
        .select(col("vec_id"), col("label"), col("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
    }),

    // ---- IVF-cell co-partitioned batch kNN join: the no-broadcast-corpus
    // scale path of q_knn_join — probe cells computed map-side per query,
    // pairs generated by an equi join on the cell key, per-query top-k via
    // the bounded-buffer aggregator. Approximate ⇒ rows-only check; plan
    // shape (shuffled hash join, no corpus broadcast) asserted in PlanSpec
    // and recall in KnnSpec.
    "q_knn_join_ivf" -> ((s, d) => {
      // corpus side served from the cell-BUCKETED table: the bucketed
      // scan joins with NO corpus-side exchange (PlanSpec `Bucketed:
      // true`) — only the |queries|×nProbe probe side shuffles. Same
      // persisted centroids as q_ann_ivf, so assignments agree.
      val (_, cents) = Ann.readIvfIndex(s, ivfIndexDir(s, d))
      val corpus = s.table(ivfBucketTable(s, d))
      Knn.knnJoinIvf(
          Tables.embeddings(s, d).filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"),
          corpus, col("vec_id"), col("embedding"),
          cents, k = 5, nProbe = 3)
        .orderBy("query_id", "rn")
    }),

    // ---- the IVF join machinery HASH-PROVEN: with nProbe = nCells the
    // probe set is exhaustive, so knnJoinIvf must EQUAL exact knnJoin —
    // oracled against the SAME DuckDB SQL as q_knn_join. A green row here
    // proves probe selection, the cell equi-join, and the bounded top-k
    // are together a pure physical rewrite of brute force; the dedicated
    // recall test then covers only the deliberate nProbe<nCells
    // approximation. (Same proof pattern as q_skew_join vs plain SQL.)
    "q_knn_join_exhaustive" -> ((s, d) => {
      val (indexed, cents) = ivfIndex(s, d)
      Knn.knnJoinIvf(indexed.filter(col("vec_id") < 10), col("vec_id"),
          col("embedding"), indexed, col("vec_id"), col("embedding"),
          cents, k = 5, nProbe = 8) // = k-means k in ivfIndex: every cell
        .orderBy("query_id", "rn")
    }),

    // ---- product-quantized ANN: trained codebooks (iters=3), map-side
    // 8-byte-code encode, ADC top-k over codes only, exact re-rank of the
    // 8× overfetch — the 32×-memory-compression layout that fits a 100 TB
    // corpus's index in cluster RAM. Approximate (trained quantizer) ⇒
    // rows-only check; lossless-codebook equivalence with exact kNN and
    // recall are asserted in PqSpec.
    "q_ann_pq" -> ((s, d) => {
      // served from the persisted codes-only store: the ADC scan reads m
      // ints per row with NO vector payload, then the exact refine
      // fetches just the k×overfetch candidates from the vector table
      // via a broadcast left-semi subquery — ONE lazy plan end to end
      // (PlanSpec/PqSpec), with the bounded candidate set living inside
      // the plan instead of a driver collect. Overfetch is the MEASURED
      // [[serveBudgets]] pick, not a constant. Deterministic codebooks +
      // deterministic sweep ⇒ identical results.
      Pq.pqTopKRefinedFetch(s.read.parquet(pqCodesDir(s, d)), col("codes"),
          Tables.embeddings(s, d), "vec_id", col("embedding"),
          pqModel(s, d), queryVec(s, d), k = 10,
          overfetch = serveBudgets(s, d).pqOverfetch)
        .select(col("vec_id"), col("label"), col("dist"))
    }),

    // ---- the PQ SERVING shape HASH-PROVEN: overfetch = corpus size
    // makes the candidate window the WHOLE corpus, so the exact refine
    // re-ranks every row and the persisted codes-store serve must EQUAL
    // brute force regardless of quantization error. Composed with
    // q_pq_adc (which hash-proves the ADC arithmetic itself), this
    // covers the full serving path: codes-store read, ADC ranking
    // plumbing, the broadcast-semi candidate fetch, and the exact
    // final top-k.
    "q_ann_pq_exhaustive" -> ((s, d) => {
      val n = Tables.embeddings(s, d).count().toInt
      Pq.pqTopKRefinedFetch(s.read.parquet(pqCodesDir(s, d)), col("codes"),
          Tables.embeddings(s, d), "vec_id", col("embedding"),
          pqModel(s, d), queryVec(s, d), k = 10, overfetch = n)
        .select(col("vec_id"), col("label"), col("dist"))
    }),

    // ---- IVF-PQ: residual quantization inside trained IVF cells — the
    // FAISS-style composition where partition pruning (probe 4 of 8
    // cells) and code compression (8 bytes/vector) multiply: a 100 TB
    // corpus scan touches nProbe/nCells of the files AND reads m ints
    // per row instead of d floats. Shares the trained cell structure
    // with q_ann_ivf via [[ivfIndex]]; the residual codebooks train on
    // (v − centroid[cell]). Approximate ⇒ rows-only; the lossless-
    // residual equivalence with exact kNN is asserted in PqSpec.
    "q_ann_ivfpq" -> ((s, d) => {
      // served from the persisted cell-partitioned codes store: the
      // probe filter PRUNES the candidate scan to nProbe cell
      // directories and that scan reads only codes — no per-invocation
      // re-encode, no vector payload (PlanSpec asserts the pruned
      // codes-only scan on the store directly); then the bounded
      // k×overfetch exact refine fetches candidates by id (broadcast
      // left-semi subquery, lazily planned end to end), restoring
      // the recall ADC-only ranking loses to quantization error (the
      // round-7 weak component). Both knobs are the MEASURED
      // [[serveBudgets]] picks.
      val (_, cents) = Ann.readIvfIndex(s, ivfIndexDir(s, d))
      val sb = serveBudgets(s, d)
      Pq.ivfPqTopKRefinedFetch(s.read.parquet(ivfPqCodesDir(s, d)),
          col("codes"), cents, Tables.embeddings(s, d), "vec_id",
          col("embedding"), ivfPqModel(s, d), queryVec(s, d), k = 10,
          nProbe = sb.nProbe, overfetch = sb.pqOverfetch)
        .select(col("vec_id"), col("label"), col("dist"))
    }),

    // ---- the IVF-PQ SERVING shape HASH-PROVEN: nProbe = every cell
    // AND overfetch = corpus size — the residual-ADC ranking feeds ALL
    // rows to the exact refine, so the persisted cell-partitioned
    // codes-store serve must EQUAL brute force. Proves the probe
    // plumbing, the per-cell residual ADC map literal, the pruned
    // codes scan, the candidate fetch, and the exact top-k as one
    // hash row (residual-ADC arithmetic itself is additionally
    // spec-proven lossless in PqSpec).
    "q_ann_ivfpq_exhaustive" -> ((s, d) => {
      val (_, cents) = Ann.readIvfIndex(s, ivfIndexDir(s, d))
      val n = Tables.embeddings(s, d).count().toInt
      Pq.ivfPqTopKRefinedFetch(s.read.parquet(ivfPqCodesDir(s, d)),
          col("codes"), cents, Tables.embeddings(s, d), "vec_id",
          col("embedding"), ivfPqModel(s, d), queryVec(s, d), k = 10,
          nProbe = 8, overfetch = n) // = k-means k: every cell
        .select(col("vec_id"), col("label"), col("dist"))
    }),

    // ---- the PQ encode+ADC machinery HASH-PROVEN: with iters=0 the
    // codebooks are exactly the md5-seeded sample rows — a deterministic,
    // SQL-expressible function of the table — so per-row codes and ADC
    // distances can be recomputed by DuckDB from scratch. A green row
    // proves subvector slicing, the per-subspace argmin (incl. tiebreak),
    // the driver-built ADC table, and the lookup-sum distance are all
    // bit-exact against an independent engine; PqSpec then covers only
    // the Lloyd's refinement. (Same proof pattern as
    // q_knn_join_exhaustive.)
    // ---- SQ8 scalar quantization: the 8× compression tier beside PQ's
    // 32× — per-dimension [min,max]→[0,255] grid, asymmetric midpoint
    // distance over codes only. Deterministic rational arithmetic end to
    // end (no trained codebooks), so train → encode → search is
    // hash-oracled outright — the strongest proof class in the repo.
    "q_ann_sq8" -> ((s, d) => {
      // served from the persisted codes store: no per-invocation
      // re-train or re-encode — the scan reads one small int per
      // dimension. Training and encode are deterministic, so the
      // hash-oracle replay (which recomputes both from the embeddings
      // table in SQL) still matches byte-for-byte.
      graft.operators.Sq.sqTopK(s.read.parquet(sqCodesDir(s, d)),
          col("codes"), sqModel(s, d), queryVec(s, d), k = 20)
        .withColumn("codes_str",
          concat_ws(",", col("codes").cast("array<string>")))
        .select(col("vec_id"), col("codes_str"), col("dist"))
    }),

    "q_pq_adc" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = Pq.trainCodebooks(emb, col("vec_id"), col("embedding"),
        m = 8, ks = 16, iters = 0)
      Pq.encode(emb, col("embedding"), model)
        .withColumn("dist",
          round(Pq.adcDist(col("codes"), Pq.adcTable(model, queryVec(s, d))), 6))
        .withColumn("codes_str",
          concat_ws(",", col("codes").cast("array<string>")))
        .select(col("vec_id"), col("codes_str"), col("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(20)
    }),

    // ---- the RESIDUAL (IVF-PQ) arithmetic HASH-PROVEN — the q_pq_adc
    // trick composed with the residual path: cell "centroids" are the 8
    // md5-seeded sample rows (iters=0 — a deterministic SQL-expressible
    // function of the table), assignment is the nearest-centroid argmin,
    // residual codebooks are the 16 md5-seeded rows' RESIDUALS (iters=0
    // again), and per-row codes + per-cell ADC distances replay in
    // DuckDB from scratch. A green row proves residual subtraction, the
    // residual encode argmin (incl. tiebreak), the per-cell query
    // residual tables, and the lookup-sum distance bit-exact; PqSpec
    // then covers only the Lloyd's refinement.
    "q_ivfpq_adc" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val centsLocal: Seq[(Int, Seq[Double])] = emb
        .orderBy(md5(concat(lit("seed:"), col("vec_id").cast("string"))),
          col("vec_id"))
        .limit(8)
        .select(col("embedding").cast("array<double>"))
        .collect().toSeq.zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](0)) }
      import s.implicits._
      val cents = centsLocal.toDF("cell", "centroid")
      val assigned = Ann.assignByLiteral(emb, col("embedding"), centsLocal)
      val model = Pq.trainResidual(assigned, col("vec_id"),
        col("embedding"), cents, m = 8, ks = 16, iters = 0)
      val encoded = Pq.encodeResidual(assigned, col("embedding"), cents,
        model)
      Pq.ivfPqTopK(encoded, col("codes"), cents, model, queryVec(s, d),
          k = 20, nProbe = 8) // every cell: the full corpus ranked
        .withColumn("codes_str",
          concat_ws(",", col("codes").cast("array<string>")))
        .select(col("vec_id"), col("cell").cast("bigint").as("cell"),
          col("codes_str"), col("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
    }),

    // ---- dense 0..n-1 relabeling (the reference's id_to_label map,
    // hnswlib needs dense int labels): range sort + per-partition counts
    // + broadcast offsets + per-partition row_number — DataFrame-native,
    // deterministic given the unique key, so fully oracle-able.
    "q_dense_ids" -> ((s, d) =>
      graft.sources.Maintenance.withDenseIds(s,
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          col("doc_id"))
        .select(col("doc_id"), col("lang"), col("label_id"))
        .orderBy("doc_id")),

    // ---- snapshot diff (dataset versioning: crawl N vs crawl N+1): both
    // sides reduce to (id, content digest) BEFORE the full-outer join, so
    // the shuffle carries 16 bytes/row, never document payloads. Version 2
    // is derived deterministically from the corpus (every 17th doc
    // removed, every 11th edited, every 13th re-added under a shifted id),
    // so DuckDB replays the whole diff by comparing contents directly —
    // digest equality and content equality agree, making the operator
    // hash-oracled end-to-end.
    "q_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val shift = broadcast(docs.agg((max(col("doc_id")) + lit(1L)).as("_s")))
      val v2 = docs.filter(col("doc_id") % 17 =!= 3)
        .withColumn("text", when(col("doc_id") % 11 === 2,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 5).crossJoin(shift)
          .select((col("doc_id") + col("_s")).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")))
      graft.sources.Maintenance.snapshotDiff(docs, v2, "doc_id",
          Seq("text", "lang", "source"))
        .orderBy("doc_id", "change")
    }),

    // ---- recurring-ingest snapshot diff: the stored corpus is a
    // persisted (id, digest) table BUCKETED by id — its bucketed scan
    // already provides the join distribution, so the stored side is
    // never re-read, re-shuffled, or re-digested; only the new snapshot
    // shuffles. Same diff semantics, same oracle output as
    // q_snapshot_diff (the layout is physical, not semantic).
    "q_snapshot_diff_inc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val shift = broadcast(docs.agg((max(col("doc_id")) + lit(1L)).as("_s")))
      val v2 = docs.filter(col("doc_id") % 17 =!= 3)
        .withColumn("text", when(col("doc_id") % 11 === 2,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 5).crossJoin(shift)
          .select((col("doc_id") + col("_s")).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")))
      graft.sources.Maintenance.snapshotDiffAgainstDigestTable(s,
          digestTable(s, d), v2, "doc_id", Seq("text", "lang", "source"))
        .orderBy("doc_id", "change")
    }),

    // ---- deterministic uniform hash-sample: map-side filter, no shuffle,
    // reproducible row set on any cluster layout.
    "q_sample_hash" -> ((s, d) =>
      Sampling.hashSample(Tables.documents(s, d), col("doc_id"), 0.25)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")),

    // ---- deterministic stratified sample: exactly 20 docs per lang in
    // md5 order. One shuffle on the stratum key.
    "q_sample_stratified" -> ((s, d) =>
      Sampling.stratifiedSample(Tables.documents(s, d), Seq("lang"),
          col("doc_id"), perStratum = 20)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")),

    // ---- SQL API surface: the same engine through spark.sql, with a
    // correlated EXISTS (planned as a semi join) and a scalar subquery.
    "q_sql_exists" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      Tables.customer(s, d).createOrReplaceTempView("v_customer")
      s.sql("""SELECT c_custkey, c_name FROM v_customer c
              |WHERE EXISTS (SELECT 1 FROM v_orders o
              |              WHERE o.o_custkey = c.c_custkey
              |                AND o.o_totalprice > 400000)
              |ORDER BY c_custkey""".stripMargin)
    }),

    "q_sql_scalar_subquery" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      s.sql("""SELECT o_orderkey, o_totalprice FROM v_orders
              |WHERE o_totalprice > (SELECT 0.99 * max(o_totalprice)
              |                      FROM v_orders)
              |ORDER BY o_orderkey""".stripMargin)
    }),

    // ---- SQL surface: CTE + window function through spark.sql — the
    // most-valuable order per customer (same engine, SQL front door).
    "q_sql_window_cte" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      s.sql("""WITH ranked AS (
              |  SELECT o_custkey, o_orderkey, o_totalprice,
              |    row_number() OVER (PARTITION BY o_custkey
              |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
              |  FROM v_orders)
              |SELECT o_custkey, o_orderkey, o_totalprice
              |FROM ranked WHERE rn = 1 ORDER BY o_custkey""".stripMargin)
    }),

    // ---- the composed training-data cleaning pipeline in ONE plan:
    // language filter → quality threshold → exact dedup (keep min id) →
    // MinHash near-dup removal (drop the higher id of each candidate
    // pair). Every stage is the oracle-checked operator from above; the
    // composition is what a 100 TB pre-training cleanse actually runs.
    "q_clean_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // materialize the scored corpus: the language/quality filter would
      // otherwise be PUSHED THROUGH the staged projections, re-inlining
      // the expensive score expressions into the predicate (measured
      // 7.2s vs 2.8s for the scored stage alone). Dedup.checkpointed:
      // RELIABLE checkpoint when a checkpoint dir is configured (a 100 TB
      // run must survive executor loss — localCheckpoint blocks have no
      // lineage to recompute), eager localCheckpoint otherwise (same
      // barrier; blocks released by the ContextCleaner once this query's
      // frame is collected, unlike persist() in a shared session)
      val scored = Dedup.checkpointed(withLangId(
        withQualityScore(docs, col("text")), col("text")))
      val filtered = scored
        .filter(col("pred_lang") =!= "und" && col("quality") >= 0.5)
      // exact dedup as ONE window pass (keep min doc_id per digest) — a
      // groupBy + semi-join formulation would re-run the whole scoring
      // subtree once per join side (measured 33s vs 9s for the query)
      val kept = filtered
        .withColumn("_rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("_rn") === 1).drop("_rn")
      val dropIds = Dedup.lshCandidatePairs(kept, col("doc_id"), col("text"))
        .select(col("id2").as("drop_id")).distinct()
      kept.join(dropIds, kept("doc_id") === dropIds("drop_id"), "left_anti")
        .select(col("doc_id"), col("pred_lang"), col("quality"))
        .orderBy("doc_id")
    }),

    // ---- the curation FUNNEL report: per-stage doc/token counts down
    // the full spine (raw → lang+quality floor → exact dedup → near-dup
    // KEEP-BEST survivorship → keep head+middle quality terciles) — the
    // audit table every corpus release publishes. Each stage is an
    // aggregate of the previous stage's survivors; the scored frame is
    // checkpointed once (the q_clean_pipeline barrier note) so five
    // stage-counts never re-inline the scoring subtree. The near-dup
    // stage keeps each duplicate cluster's REPRESENTATIVE
    // (quality-argmax via clusterRepresentatives — map-side partial
    // min, skew-robust under a boilerplate mega-cluster), not the
    // minimum-id survivor a plain pair-drop leaves.
    "q_curation_funnel" -> ((s, d) => {
      // spread the scan: quality scoring + langid + tokenize are fused
      // CPU-bound work, single-task on a 1-row-group source (sf10)
      val docs = graft.operators.Spread.forKernel(Tables.documents(s, d))
      // reliable-or-local checkpoint toggle — the q_clean_pipeline note
      val scored = Dedup.checkpointed(withLangId(
        withQualityScore(docs, col("text")), col("text"))
        .withColumn("ntok",
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long")))
      val f = scored
        .filter(col("pred_lang") =!= "und" && col("quality") >= 0.5)
      // exact-dedup survivors feed THREE consumers (the stage
      // aggregate, the LSH pair generation and the representative
      // join) — checkpoint so the md5 window runs once per invocation
      val kept = Dedup.checkpointed(f
        .withColumn("_rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("_rn") === 1).drop("_rn"))
      // pairs over the SURVIVORS, not componentsFromTable's corpus-level
      // labels: corpus labels would merge clusters through documents the
      // lang/quality/exact-dedup stages already dropped, changing which
      // survivor wins the quality argmax. CHECKPOINTED (the
      // q_release_funnel rule): connectedComponentsStar consumes its
      // pair input twice (the edge canonicalization AND the final
      // labels' id universe) — un-checkpointed, the whole LSH band
      // pipeline ran a second time for the id derivation
      val repIds = Dedup.clusterRepresentatives(kept, col("doc_id"),
          col("quality"),
          Dedup.checkpointed(
            Dedup.lshCandidatePairs(kept, col("doc_id"), col("text"))))
        .filter(col("is_rep") === 1).select("doc_id")
      val nd = Dedup.checkpointed(kept.join(repIds, "doc_id"))
      val byLang = Window.partitionBy("pred_lang")
        .orderBy(col("quality").desc, col("doc_id"))
      val fin = nd.withColumn("rnk", row_number().over(byLang))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy("pred_lang")))
        .filter(col("rnk") * 3 <= col("n") * 2)
      def stage(idx: Int, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
          .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
            col("n_docs"), col("n_tokens"))
      stage(0, "raw", scored)
        .unionByName(stage(1, "lang_quality", f))
        .unionByName(stage(2, "exact_dedup", kept))
        .unionByName(stage(3, "near_dedup", nd))
        .unionByName(stage(4, "quality_head_middle", fin))
        .orderBy("stage_idx")
    }),

    // ---- the FULL corpus-release recipe as ONE declared plan — every
    // stage an individually-oracled operator, composed end to end the
    // way a real release runs (round-14 verdict item 6): C4 page
    // cleanse → langid+quality floor → exact dedup → near-dup
    // KEEP-BEST survivorship → benchmark decontamination → DSIR
    // selection (keep the target domain + importance-accepted raw) →
    // leakage-safe train split (hash keyed on the near-dup COMPONENT,
    // so twins co-assign) → token-budget shard packing. Output: the
    // per-stage audit table a release publishes — (stage_idx, stage,
    // n_docs, n_tokens, n_shards); n_shards is 0 except on the final
    // pack row. ONE checkpointed frame feeds each stage's aggregate;
    // the LSH pair table is checkpointed once and reused by both the
    // representative argmax AND the split components.
    "q_release_funnel" -> ((s, d) => {
      val rawDocs = graft.operators.Spread.forKernel(Tables.documents(s, d))
      val rawTok = rawDocs.select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("ntok"))
      def stage(idx: Int, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum("ntok"), lit(0L)).as("n_tokens"))
          .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
            col("n_docs"), col("n_tokens"), lit(0L).as("n_shards"))
      // stage 1: C4 cleanse of the synthetic page; downstream stages
      // operate on the CLEANED text
      val cleaned = rawDocs.withColumn("_pg", c4Page)
        .withColumn("_ct", graft.operators.C4Filters.cleanText(col("_pg")))
        .filter(col("_ct").isNotNull)
        .select(col("doc_id"), col("lang"), col("_ct").as("text"))
      // stage 2: langid + quality floor on the cleaned text (the
      // q_clean_pipeline checkpoint barrier: scoring must not re-inline)
      val scored = Dedup.checkpointed(withLangId(
        withQualityScore(cleaned, col("text")), col("text"))
        .withColumn("ntok",
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long")))
      val f = scored
        .filter(col("pred_lang") =!= "und" && col("quality") >= 0.5)
      // stage 3: exact dedup, min doc_id per content digest
      // (checkpointed — the q_curation_funnel kept rule: the stage
      // aggregate, the pair generation and the representative join all
      // consume it)
      val kept = Dedup.checkpointed(f
        .withColumn("_rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("_rn") === 1).drop("_rn"))
      // stage 4: near-dup survivorship — quality-argmax representative
      // per LSH cluster. Component labels are computed ONCE (star
      // contraction, checkpointed) and shared with the stage-7 split:
      // the former form ran a SECOND full connected-components pass
      // (min-label) over the same pair table for the split — the two
      // algorithms produce bit-identical labels (DedupSpec), so one
      // iterative run serves both consumers
      val pairs = Dedup.checkpointed(
        Dedup.lshCandidatePairs(kept, col("doc_id"), col("text")))
      val comp = Dedup.checkpointed(
        Dedup.connectedComponentsStar(pairs)
          .withColumnRenamed("id", "doc_id"))
      val repIds = Dedup.clusterRepresentativesFromComponents(kept,
          col("doc_id"), col("quality"), comp)
        .filter(col("is_rep") === 1).select("doc_id")
      val nd = Dedup.checkpointed(kept.join(repIds, "doc_id"))
      // stage 5: decontamination — drop the benchmark slice itself and
      // every survivor sharing a 3-gram shingle with it
      val heldout = Tables.documents(s, d).filter(col("doc_id") % 97 === 0)
      val decon = Dedup.checkpointed(
        nd.filter(col("doc_id") % 97 =!= 0)
          .join(Dedup.contaminatedDocs(
              nd.filter(col("doc_id") % 97 =!= 0), col("doc_id"),
              col("text"), heldout, col("text"), n = 3)
            .select("doc_id"), Seq("doc_id"), "left_anti"))
      // stage 6: DSIR selection — keep the whole target domain plus
      // importance-accepted raw docs (weights from the survivors)
      val w = graft.operators.Dsir.importanceWeights(decon,
        col("doc_id"), col("text"), col("lang") === "en")
      // max_w as a lazy 1-row broadcast (the q_dsir_select shape): one
      // sequential job fewer in the funnel chain; an empty weights
      // frame yields NULL max ⇒ the sample filter drops every row —
      // exactly the former None ⇒ limit(0) branch
      val mx = w.agg(max("dsir_weight").as("_mx"))
      val accepted = Sampling.weightedSample(
          w.crossJoin(broadcast(mx)), col("doc_id"),
          col("dsir_weight").cast("double") / col("_mx").cast("double"))
        .select("doc_id")
      val sel = Dedup.checkpointed(
        decon.filter(col("lang") === "en")
          .unionByName(decon.join(accepted, "doc_id")))
      // stage 7: leakage-safe train split — hash keyed on the near-dup
      // component (cluster members co-assign by construction; `comp`
      // reused from stage 4)
      val train = Dedup.checkpointed(
        Sampling.assignSplit(
            sel.join(comp, Seq("doc_id"), "left")
              .withColumn("component",
                coalesce(col("component"), col("doc_id"))),
            col("component"))
          .filter(col("split") === "train"))
      // stage 8: token-budget shard packing in epoch-shuffle order (the
      // q_train_shards machinery: balanced two-pass cum-sum, no
      // single-partition window)
      val packed = graft.sources.Maintenance.withGroupedCumSum(s,
          Sampling.epochShuffle(s, train.withColumn("_s", lit("train")),
            col("doc_id"), epoch = 0),
          col("_s"), col("pos"), col("ntok"), "cum_tokens")
        .withColumn("shard",
          floor((col("cum_tokens") - col("ntok")) / lit(1000L))
            .cast("bigint"))
      stage(0, "raw", rawTok)
        .unionByName(stage(1, "c4_cleanse", scored))
        .unionByName(stage(2, "lang_quality", f))
        .unionByName(stage(3, "exact_dedup", kept))
        .unionByName(stage(4, "near_dedup", nd))
        .unionByName(stage(5, "decontaminate", decon))
        .unionByName(stage(6, "dsir_select", sel))
        .unionByName(stage(7, "train_split", train))
        .unionByName(packed.agg(count(lit(1)).as("n_docs"),
            coalesce(sum("ntok"), lit(0L)).as("n_tokens"),
            countDistinct("shard").as("n_shards"))
          .select(lit(8).as("stage_idx"), lit("pack_shards").as("stage"),
            col("n_docs"), col("n_tokens"), col("n_shards")))
        .orderBy("stage_idx")
    }),

    // ---- blocked edit-distance fuzzy join (record linkage): customer
    // names one typo apart, pairs formed only within a 16-char-prefix
    // block (the quadratic term bounded by block size; fixed-N pin on
    // the pair stage), banded levenshtein kernel filtered map-side.
    // The string-distance member of the similarity-join family.
    // maxBlock=512 is the hot-block valve (jaccardPairs' convention,
    // ~5x the largest sf0.1 block): on the 100x-replicated corpus the
    // verbatim-copied names make every prefix block 10,000 strong =
    // 7.5B candidate pairs corpus-wide (measured, round 11) - the
    // valve excludes them, audited via FuzzyJoin.oversizedBlocks, and
    // the oracle replicates the gate so a trip still hash-matches.
    "q_fuzzy_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .withColumn("_blk", substring(col("c_name"), 1, 16))
      graft.operators.FuzzyJoin.editDistancePairs(c, col("c_custkey"),
          col("c_name"), Seq("_blk"), maxDist = 1, maxBlock = 512)
        .orderBy("id1", "id2")
    }),

    // ---- bucketized range join: customers whose balance falls in a
    // ±100 band around each supplier's — an equi join on coarse buckets
    // replaces the |points|×|intervals| nested loop.
    "q_range_join" -> ((s, d) => {
      val bands = Tables.supplier(s, d)
        .select(col("s_suppkey"), (col("s_acctbal") - 100).as("lo"),
          (col("s_acctbal") + 100).as("hi"))
      RangeJoin.rangeJoin(
          Tables.customer(s, d).select("c_custkey", "c_acctbal"),
          "c_acctbal", bands, "lo", "hi", bucketWidth = 200.0)
        .select(col("c_custkey"), col("s_suppkey"))
        .orderBy("c_custkey", "s_suppkey")
    }),

    // ---- the same interval join reduced to one exact checksum row: the
    // non-vacuous gate at SFs where the pair OUTPUT is dump-bound (~2.7B
    // pairs at sf10 — round-12 verdict item 2). Pure integer arithmetic
    // (count, key sums, a modular pair checksum) so DuckDB computes the
    // identical values without materializing the pairs either.
    "q_range_join_agg" -> ((s, d) => {
      val bands = Tables.supplier(s, d)
        .select(col("s_suppkey"), (col("s_acctbal") - 100).as("lo"),
          (col("s_acctbal") + 100).as("hi"))
      RangeJoin.rangeJoin(
          Tables.customer(s, d).select("c_custkey", "c_acctbal"),
          "c_acctbal", bands, "lo", "hi", bucketWidth = 200.0)
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("c_custkey")).as("sum_c"),
          sum(col("s_suppkey")).as("sum_s"),
          sum(pmod(col("c_custkey") * lit(100003L) + col("s_suppkey"),
            lit(1000000007L))).as("checksum"))
    }),

    // ---- as-of self-join: each order's previous order of the same
    // customer via the merge formulation (one shuffle + sort, no join
    // blowup); oracle = the lag() window, same semantics by construction.
    "q_asof_join" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      AsofJoin.asofJoin(orders, orders, key = "o_custkey",
          leftTs = "o_orderdate", rightTs = "o_orderdate",
          leftId = "o_orderkey", rightId = "o_orderkey",
          payloadCols = Seq("o_orderkey"), inclusive = false)
        .select(col("o_orderkey"), col("o_custkey"),
          col("asof_o_orderkey").as("prev_orderkey"))
        .orderBy("o_orderkey")
    }),

    // ---- as-of join, INCLUSIVE mode, two distinct sides: each purchase
    // event picks up the latest view by the same user at-or-before it
    // ((ts, id) lexicographic — a right row at the exact same position
    // would match). Same merge formulation: one shuffle, no join node.
    "q_asof_join_incl" -> ((s, d) => {
      val ev = Tables.events(s, d)
      AsofJoin.asofJoin(
          ev.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          ev.filter(col("event_type") === "view")
            .select(col("event_id"), col("user_id"), col("ts"),
              col("event_id").as("view_id")),
          key = "user_id", leftTs = "ts", rightTs = "ts",
          leftId = "event_id", rightId = "event_id",
          payloadCols = Seq("view_id"), inclusive = true)
        .select(col("event_id"), col("user_id"), col("asof_view_id"))
        .orderBy("event_id")
    }),

    // ---- deterministic train/val/test split: hash-bucket assignment,
    // map-side, stable under corpus growth.
    "q_split_assign" -> ((s, d) =>
      Sampling.assignSplit(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), col("split")).orderBy("doc_id")),

    // ---- LEAKAGE-SAFE split: q_split_assign keyed on the raw doc_id
    // leaks — a train doc's near-twin can land in test, and
    // memorization then reads as generalization. Key the SAME hash
    // split on the near-dup COMPONENT label instead: every cluster
    // member co-assigns by construction (eval-dedup is standard
    // practice precisely because of this). Components ride the session
    // band table (the recurring-ingest pair source — no corpus
    // re-hash); singleton docs keep their own id as the label, so the
    // assignment is stable as the corpus grows.
    "q_split_leakage_safe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // labels from the SESSION components table (star contraction over
      // the band-table pairs, persisted once per (session, dir)) — the
      // recurring-ingest form: each consumer reads the stored labels
      // instead of re-running the iterative contraction per query
      val comp = componentsFromTable(s, d)
      Sampling.assignSplit(
          docs.join(comp, Seq("doc_id"), "left")
            .withColumn("component",
              coalesce(col("component"), col("doc_id"))),
          col("component"))
        .select(col("doc_id"), col("component"), col("split"))
        .orderBy("doc_id")
    }),

    // ---- training-shard assignment (the export sink's deterministic
    // core): hash split → epoch-shuffle order → token-budget packing,
    // with the cum-sum over the balanced two-pass machinery
    // (withGroupedCumSum) — no single-partition window even though the
    // train split holds ~80% of the corpus.
    "q_train_shards" -> ((s, d) =>
      graft.sources.Maintenance.trainingShardAssignment(
          s, Tables.documents(s, d), col("doc_id"), col("text"),
          epoch = 0, budgetTokens = 1000L)
        .select(col("doc_id"), col("split"), col("n_tokens"),
          col("cum_tokens"), col("shard"))
        .orderBy("doc_id")),

    // ---- deterministic resampling to a target domain mix (40% web /
    // 30% code / ... — the pretraining data-mixing step): largest
    // upsample-free total T = min(n_d/p_d), per-domain keep rate
    // p_d·T/n_d enforced by an integer hash threshold. One tiny count
    // agg + a map-side filter; thresholds integer-exact vs the oracle.
    "q_sample_mix" -> ((s, d) =>
      Sampling.resampleToMix(Tables.documents(s, d), "lang", col("doc_id"),
          Map("en" -> 0.3, "de" -> 0.2, "es" -> 0.2,
            "fr" -> 0.15, "zh" -> 0.15))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // ---- quality-weighted acceptance sampling: keep probability = the
    // per-doc quality score (the curation acceptance step). Map-side
    // integer-hash threshold per ROW — the q_sample_mix pattern with a
    // per-row rate; quality itself is already oracled (q_text_quality),
    // so the whole chain hash-matches.
    // the scored frame is CHECKPOINTED (pruned to (doc_id, quality))
    // before the sample filter: the acceptance predicate references the
    // computed quality, so pushdown inlined the ENTIRE scoring
    // expression into the scan filter — with the token-split HOF
    // subexpressions duplicated ~4× inside the condition — and the
    // projection evaluated it again (the q_clean_pipeline barrier rule;
    // plans/r16/q_sample_weighted_before.txt)
    "q_sample_weighted" -> ((s, d) =>
      Sampling.weightedSample(
          Dedup.checkpointed(
            withQualityScore(Tables.documents(s, d), col("text"))
              .select(col("doc_id"), col("quality"))),
          col("doc_id"), col("quality"))
        .select(col("doc_id"), col("quality"))
        .orderBy("doc_id")),

    // ---- temperature-scaled resampling (alpha sampling, alpha = 0.5):
    // proportions ∝ √n_d flatten the domain distribution toward
    // uniform — the multilingual pretraining mix. sqrt is correctly-
    // rounded IEEE, so thresholds stay integer-exact vs the oracle.
    "q_sample_temperature" -> ((s, d) =>
      Sampling.resampleTemperature(Tables.documents(s, d), "lang",
          col("doc_id"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // ---- KMV distinct sketch: deterministic mergeable distinct-count
    // (custom Aggregator; states are <=64 longs, map-side combined).
    "q_sketch_kmv" -> ((s, d) =>
      Sketches.kmvDistinctOf(s, Tables.events(s, d),
          "event_type", "user_id", k = 64)
        .orderBy("event_type")),

    // ---- KMV sketch ALGEBRA (Beyer et al. 2007): union / intersection
    // / Jaccard between every event-type pair's user sets, estimated
    // from the k-min sketches ALONE — the raw sets never co-locate
    // (sketches of 100 TB partitions merge driver-side). Integer/list
    // arithmetic + one fixed double op tree ⇒ hash-oracled.
    "q_sketch_kmv_setops" -> ((s, d) =>
      Sketches.kmvSetOps(s, Tables.events(s, d),
          "event_type", "user_id", k = 64)
        .orderBy("g1", "g2")),

    // ---- HLL distinct sketch: the industry-standard mergeable counter,
    // pure relational algebra (two map-side-combinable aggs). est_raw is
    // exact binary-fraction double arithmetic, so it hash-matches DuckDB
    // bit-for-bit; the ln-based corrected column is spec-bounded instead
    // (transcendentals are not cross-engine-stable).
    "q_sketch_hll" -> ((s, d) =>
      Sketches.hllDistinct(s, Tables.events(s, d),
          "event_type", "user_id", p = 8)
        .select(col("event_type"), col("n_zero"), col("est_raw"))
        .orderBy("event_type")),

    // ---- URL canonicalization (web-crawl curation): the dedup-key
    // problem — one page, many spellings. URLs synthesized id-derived
    // (the multimodal proof pattern: messy case, default port, tracking
    // params, fragment), then normalized via split/filter/join array
    // ops — no regex, so the oracle's list functions align exactly.
    // Map-side, codegen'd; hash-oracled.
    "q_url_normalize" -> ((s, d) => {
      import graft.functions.UrlFunctions._
      val url = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM:443/Articles/"), col("lang"), lit("/"),
        pmod(col("doc_id"), lit(50)),
        lit("?utm_source=feed&ref=rss&id="), col("doc_id"),
        lit("#sec-"), pmod(col("doc_id"), lit(5)))
      Tables.documents(s, d)
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          normalizeUrl(col("url")).as("url_norm"),
          urlHost(col("url")).as("host"),
          urlPathDepth(col("url")).as("path_depth"))
        .orderBy("doc_id")
    }),

    // ---- link-graph authority: 5 fixed PageRank iterations (damping
    // 7/8 — exact binary fraction) over a deterministic synthesized link
    // graph (the url_normalize proof pattern): each doc links to 4
    // hash-derived targets over the DENSE id space (withDenseIds — no
    // contiguous-doc_id assumption, survives ScaleGen's key ranges), so
    // in-degree varies and the stationary mass is non-uniform. Sorted
    // contribution folds + an unrolled 5-step CTE oracle make the run
    // bit-reproducible (PageRank.pageRank scaladoc).
    "q_pagerank" -> ((s, d) => {
      val (ids, e) = linkGraph(s, d)
      val pr = PageRank.pageRank(ids.select(col("ridx")), col("ridx"),
        e, col("src"), col("dst"), col("ord"), iters = 5)
      pr.join(ids, pr("node") === ids("ridx"))
        .select(col("doc_id"), col("pagerank"))
        .orderBy("doc_id")
    }),

    // ---- synchronous label-propagation communities over the link
    // graph (Raghavan et al. 2007; the GraphX/GraphFrames LPA
    // contract) — deterministic min-tie-break form, 4 rounds, each
    // round one |E|-linear join + count + struct-max argmax (no
    // per-node window sort). Oracle = the unrolled round chain (the
    // q_pagerank proof shape), each round's labels MATERIALIZED (they
    // are referenced twice per round — the round-10 re-expansion
    // rule).
    "q_label_prop" -> ((s, d) => {
      val (ids, e) = linkGraph(s, d)
      val lp = graft.operators.GraphAlgos.labelPropagation(
        ids.select(col("ridx")), col("ridx"),
        e, col("src"), col("dst"), iters = 4)
      lp.join(ids, lp("node") === ids("ridx"))
        .select(col("doc_id"), col("community"))
        .orderBy("doc_id")
    }),

    // ---- community labeling: top-3 terms per LPA community by
    // class-based TF-IDF (the BERTopic c-TF-IDF shape, Grootendorst
    // 2022 — tf at the CLASS grain, idf over classes, rational N/df
    // like q_tfidf_top_terms). The "name the clusters" op a corpus
    // exploration needs once communities exist; composes the
    // q_label_prop chain with the text family. Community count rides
    // a lazy 1-row broadcast (the bm25 avgdl shape).
    "q_community_terms" -> ((s, d) => {
      val (ids, e) = linkGraph(s, d)
      val lp = graft.operators.GraphAlgos.labelPropagation(
        ids.select(col("ridx")), col("ridx"),
        e, col("src"), col("dst"), iters = 4)
      // the 4-round LPA lineage feeds TWO consumers (the term join and
      // the community-count scalar) — checkpoint the narrow label frame
      // so label propagation runs once per invocation (the Dsir profile
      // rule)
      val comm = graft.operators.Dedup.checkpointed(
        ids.join(lp, ids("ridx") === lp("node"))
          .select(col("doc_id"), col("community")))
      val terms = Tables.documents(s, d).join(comm, "doc_id")
        .select(col("community"), explode(tokens(col("text"))).as("term"))
      val ctf = terms.groupBy(col("community"), col("term"))
        .agg(count(lit(1)).as("ctf"))
      val cdfreq = ctf.groupBy(col("term")).agg(count(lit(1)).as("cdf"))
      val nc = comm.select(col("community")).distinct()
        .agg(count(lit(1)).as("nc"))
      ctf.join(cdfreq, "term")
        .crossJoin(broadcast(nc))
        .withColumn("score", floorRound6(
          col("ctf") * col("nc").cast("double") / col("cdf")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("community"))
            .orderBy(col("score").desc, col("term").asc)))
        .filter(col("rn") <= 3)
        .select(col("community"), col("term"), col("score"), col("rn"))
        .orderBy("community", "rn")
    }),

    // ---- exact triangle census on the link graph (degree-oriented
    // node-iterator, Schank & Wagner 2005): orientation by (deg, id)
    // bounds every oriented out-degree by O(√m), so the wedge
    // self-join — the only quadratic-output stage, fixed-N pinned — is
    // O(m^1.5) on ANY degree distribution; a hub node never owns a
    // deg² wedge set. Closing-edge check is one linear fetch join;
    // transitivity = 3T / ΣC(deg,2) in exact integers.
    "q_graph_triangles" -> ((s, d) => {
      val (_, e) = linkGraph(s, d)
      graft.operators.GraphAlgos.triangleStats(e, col("src"), col("dst"))
    }),

    // ---- per-host crawl cap: keep the best `k` docs per host by
    // quality — the crawl-diversity quota (one domain must not dominate
    // the corpus). Physical shape: the bounded-buffer TopK aggregator
    // (q_topk_per_group's), NOT a ranked window — a hot host (the exact
    // situation a crawl-diversity cap exists for) would serialize one
    // window partition and sort all its rows; the aggregator trims to
    // k map-side, so the shuffle carries ≤ k entries per host per task
    // on ANY host skew. Oracle unchanged (the window formulation —
    // identical contract, different physics).
    "q_host_cap" -> ((s, d) => {
      import graft.functions.UrlFunctions._
      val url = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM:443/Articles/"), col("doc_id"))
      val scored = withQualityScore(Tables.documents(s, d), col("text"))
        .withColumn("host", urlHost(url))
      graft.operators.TopK.topKPerGroupStr(s, scored, "host", "doc_id",
          "quality", k = 10)
        .select(col("doc_id"), col("host"), col("quality"), col("rn"))
        .orderBy("host", "rn")
    }),

    // ---- hard-negative mining (embedding-training sampling), RANK-BAND
    // form: per query, the neighbors just past the positives — rn in
    // (5, 15] — near enough to be confusable, far enough to be
    // negatives. Pure composition over the batch kNN join; same oracle
    // shape. See q_hard_negatives_cos for the threshold-gated strategy
    // (closest matches below the near-dup cosine line).
    "q_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Knn.knnJoin(emb.filter(col("vec_id") < 10), col("vec_id"),
          col("embedding"), emb, col("vec_id"), col("embedding"), k = 15)
        .filter(col("rn") > 5)
        .orderBy("query_id", "rn")
    }),

    // ---- all-pairs TF-IDF cosine similarity join (AllPairs/PPJoin
    // family): the sparse-LEXICAL-vector near-dup member beside MinHash
    // (Jaccard/sets) and hyperplane LSH (dense cosine). Inverted-index
    // self-join over df-valved shingles (Σ df² bounded by maxDf=10, the
    // audited-valve pattern); the space is HASHED shingles via the
    // native kernel — 8-byte join/fold keys, the q_ngram_jaccard
    // precedent; rational N/df idf, hash-sorted folds, floorRound6 cos
    // ⇒ fully hash-oracled.
    "q_tfidf_simjoin" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.SimJoin.tfidfCosinePairs(docs, col("doc_id"),
          col("text"), nDocs = docCount(s, d), minCos = 0.5, maxDf = 10)
        .orderBy("id1", "id2")
    }),

    // ---- Bloom-filter join pruning: the runtime-filter pattern made
    // explicit — an m-bit bloom over the selective build side (top ~10%
    // orders by price) prunes fact rows MAP-SIDE before the semi-join
    // shuffle; the exact semi join over survivors removes false
    // positives, so the result is bit-identical to the plain semi join
    // (the oracle — the q_skew_join physical-rewrite proof pattern). At
    // 100 TB the win is shuffle volume: only bloom-passing rows shuffle.
    "q_bloom_join" -> ((s, d) => {
      val hot = Tables.orders(s, d).filter(col("o_totalprice") > 450000.0)
      graft.operators.BloomJoin.semiJoinPruned(
          Tables.lineitem(s, d), col("l_orderkey"), hot, col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- deterministic epoch shuffle: reproducible global training
    // order per epoch — position = dense rank of md5("epoch:" || id)
    // with id tiebreak. Balanced range sort on a uniform hash, positions
    // via the dense-ids machinery (no single-partition window). Two
    // epochs joined to show independent permutations. Integer-exact ⇒
    // hash-oracled.
    "q_shuffle_epoch" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val e0 = Sampling.epochShuffle(s, docs, col("doc_id"), epoch = 0,
        out = "pos_e0").select(col("doc_id"), col("pos_e0"))
      val e1 = Sampling.epochShuffle(s, docs, col("doc_id"), epoch = 1,
        out = "pos_e1").select(col("doc_id"), col("pos_e1"))
      e0.join(e1, "doc_id").orderBy("doc_id")
    }),

    // ---- Count-Min sketch: the additive mergeable FREQUENCY counter
    // (heavy-hitter estimates) beside KMV/HLL's distinct counters. The
    // 4×256 grid is one groupBy(row,bucket) with map-side partials —
    // ≤1024 rows total regardless of corpus size — and the true-top-20
    // probes broadcast-join it. Integer-exact ⇒ hash-oracled; the
    // overestimate-only error bound is spec-asserted (SamplingSpec).
    "q_sketch_cms" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("term"))
      val grid = Sketches.cmsCounters(toks, col("term"), d = 4, w = 256)
      val probes = toks.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term").asc).limit(20)
      Sketches.cmsEstimate(grid, probes, "term", d = 4, w = 256)
        .orderBy("term")
    }),

    // ---- exact lower-median per group via one window (deterministic
    // tie/interpolation rules spelled out, unlike engine quantile()s).
    "q_median_manual" -> ((s, d) => {
      val byLang = Window.partitionBy(col("lang"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(
          byLang.orderBy(col("n_chars"), col("doc_id"))))
        .withColumn("cnt", count(lit(1)).over(byLang))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("lang"), col("n_chars").as("median_chars"))
        .orderBy("lang")
    }),

    // ---- batch kNN join: top-5 corpus matches for each of 10 query rows
    // in ONE plan (broadcast corpus + bounded-buffer per-query top-k) —
    // the batched form of the reference's per-query loop.
    "q_knn_join" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Knn.knnJoin(emb.filter(col("vec_id") < 10), col("vec_id"),
          col("embedding"), emb, col("vec_id"), col("embedding"), k = 5)
        .orderBy("query_id", "rn")
    }),

    // ---- contrastive hard-negative mining, THRESHOLD form: per anchor,
    // the 5 highest-cosine matches strictly below the near-dup threshold
    // (0.4 — the q_semantic_dedup flag line, so the mined negatives are
    // exactly the closest vectors the dedup pass does NOT consider
    // duplicates; the anchor itself at cos 1.0 is excluded by the same
    // predicate). The second mining strategy beside q_hard_negatives'
    // rank-band form (skip the top-5 positives, take ranks 6..15):
    // rank-band assumes the positive count, threshold assumes the dedup
    // line — real pipelines pick per task. Exact brute-force form,
    // hash-oracled; the 100 TB path composes the same map-side filter
    // onto knnJoinIvf (Knn.hardNegatives scaladoc).
    "q_hard_negatives_cos" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Knn.hardNegatives(emb.filter(col("vec_id") < 10), col("vec_id"),
          col("embedding"), emb, col("vec_id"), col("embedding"),
          k = 5, dupCos = 0.4)
        .orderBy("query_id", "rn")
    }),

    // ---- batch kNN join over the sharded hierarchical graph: the graph
    // family's knnJoinIvf counterpart — corpus-partitioned, query batch
    // broadcast, one balanced top-k shuffle. Approximate ⇒ rows-only;
    // the machinery is hash-PROVEN by q_graph_join_exhaustive below.
    "q_ann_graph_join" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      GraphAnn.graphKnnJoinResident(emb.filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"), graphIndexDir(s, d), k = 5,
          ef = 100)
        .orderBy("query_id", "rn")
    }),

    // ---- graph join machinery HASH-PROVEN: ef >= shard size makes every
    // per-shard beam exhaustive, so the join must EQUAL exact knnJoin —
    // oracled against the SAME DuckDB SQL as q_knn_join (the
    // q_knn_join_exhaustive proof pattern applied to the graph tier).
    "q_graph_join_exhaustive" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      GraphAnn.graphKnnJoinIndexed(emb.filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"), graphIndexDir(s, d), k = 5,
          ef = 4000)
        .orderBy("query_id", "rn")
    }),

    // ---- token-budget shard packing: running token sum per source cut
    // into ~1000-token bins; one window over one shuffle.
    "q_pack_token_budget" -> ((s, d) =>
      Sampling.packByTokenBudget(
          Tables.documents(s, d)
            .withColumn("n_tokens", tokenCountWs(col("text"))),
          col("source"), col("doc_id"), col("n_tokens"), budget = 1000L)
        .select(col("doc_id"), col("source"), col("cum_tokens"), col("bin"))
        .orderBy("doc_id")),

    // ---- BYTE-budget shard packing (multimodal training export):
    // image/audio/video shards are sized by payload bytes, not token
    // counts — the q_train_shards machinery (hash split → epoch order →
    // grouped-cumsum packing, no single-partition window) over
    // octet_length(payload). The sink form (writeMultimodalShards) is
    // spec-gated like writeTrainingShards.
    "q_pack_byte_budget" -> ((s, d) =>
      graft.sources.Maintenance.byteShardAssignment(s,
          Multimodal.attachPayload(Tables.documents(s, d)),
          col("doc_id"), col("payload"), epoch = 0, budgetBytes = 10000L)
        .select(col("doc_id"), col("split"), col("n_bytes"),
          col("cum_bytes"), col("shard"))
        .orderBy("doc_id"))
  )

  // ---------------------------------------------------------------------
  // DuckDB oracles
  // ---------------------------------------------------------------------

  /** DuckDB spelling of [[dsum]]. */
  private def dsumSql(e: String): String =
    s"sum(($e)::DECIMAL(18,4))::DOUBLE"

  /** Shared CTE chain of the curation spine (the q_clean_pipeline and
    * q_curation_funnel oracles): tokenized corpus `toks0`, quality
    * scores `qual`, language ID `lid`, the lang/quality filter `f`,
    * exact-dedup survivors `kept`, and the LSH near-dup drop set
    * `drops` (pairs computed over the FILTERED survivors, not the raw
    * corpus — the funnel stages compose exactly like the Spark side). */
  /** Near-dup survivorship replay over the clean-pipeline chunk's
    * `kept`: recursive min-label components over the LSH band pairs
    * (`comp`), quality-argmax representative per cluster, survivors as
    * `nd`. Shared by q_curation_funnel and q_release_funnel. */
  private val ndSurvivorCtes: String =
    """pairs2 AS MATERIALIZED (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM bands2 a JOIN bands2 b
      |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      |   AND a.doc_id < b.doc_id),
      |edges AS (
      |  SELECT id1 AS a, id2 AS b FROM pairs2
      |  UNION SELECT id2, id1 FROM pairs2),
      |reach AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e
      |    ON r.b = e.a AND e.b <> r.a),
      |comp AS MATERIALIZED (
      |  SELECT a AS id, least(a, min(b)) AS component
      |  FROM reach GROUP BY a),
      |jq AS (
      |  SELECT k.doc_id, coalesce(c.component, k.doc_id) AS component,
      |    k.quality
      |  FROM kept k LEFT JOIN comp c ON k.doc_id = c.id),
      |ndids AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, first_value(doc_id) OVER (
      |        PARTITION BY component
      |        ORDER BY quality DESC, doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING
      |          AND UNBOUNDED FOLLOWING) AS rep_id
      |    FROM jq)
      |  WHERE doc_id = rep_id),
      |nd AS MATERIALIZED (SELECT k2.* FROM kept k2 JOIN ndids USING (doc_id))""".stripMargin

  private def cleanPipelineCtes: String = cleanPipelineCtesFrom("documents")

  /** The q_clean_pipeline CTE chain over an arbitrary (doc_id, text)
    * source CTE: quality score, langid, the lang+quality floor (`f`),
    * exact dedup (`kept`), LSH bands (`bands2`) and the pair-drop set
    * (`drops`). Shared by q_clean_pipeline / q_curation_funnel
    * (src = documents) and q_release_funnel (src = the C4-cleansed
    * corpus). */
  private def cleanPipelineCtesFrom(src: String): String = {
    val scores = langMarkers.map { case (l, ms) =>
      s"${langScoreSql(ms)} AS s_$l"
    }.mkString(", ")
    val bestSql = langMarkers.map(m => s"s_${m._1}")
      .mkString("greatest(", ", ", ")")
    val cascade = langMarkers.map { case (l, _) =>
      s"WHEN s_$l = best AND s_$l > 0 THEN '$l'"
    }.mkString(" ")
    s"""toks0 AS MATERIALIZED (
         |  SELECT doc_id, text,
         |    list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x != '') AS toks
         |  FROM $src),
         |qual AS (
         |  SELECT doc_id, text,
         |    floor((least(len(text)::DOUBLE / 500.0, 1.0) * 0.25
         |      + (1.0 - least(len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE
         |          / greatest(len(text)::DOUBLE, 1.0) * 10.0, 1.0)) * 0.25
         |      + least((CASE WHEN len(toks) > 0 THEN
         |          len(list_filter(toks, t -> list_contains($stopSql, t)))::DOUBLE
         |            / len(toks)::DOUBLE ELSE 0.0 END) * 5.0, 1.0) * 0.25
         |      + least((CASE WHEN len(toks) > 0 THEN
         |          list_sum(list_transform(toks, t -> len(t)))::DOUBLE
         |            / len(toks)::DOUBLE ELSE 0.0 END) / 10.0, 1.0) * 0.25)
         |      * 10000.0 + 0.5) / 10000.0 AS quality
         |  FROM toks0),
         |pads AS (
         |  SELECT doc_id, text, ' ' || lower(text) || ' ' AS padded
         |  FROM $src),
         |scs AS (SELECT doc_id, text, $scores FROM pads),
         |lid AS (
         |  SELECT doc_id,
         |    CASE WHEN len(regexp_extract_all(text,
         |           '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
         |         $cascade ELSE 'und' END AS pred_lang
         |  FROM (SELECT *, $bestSql AS best FROM scs)),
         |f AS MATERIALIZED (
         |  SELECT q.doc_id, q.text, q.quality, l.pred_lang
         |  FROM qual q JOIN lid l USING (doc_id)
         |  WHERE l.pred_lang != 'und' AND q.quality >= 0.5),
         |k AS (SELECT min(doc_id) AS keep_id FROM f GROUP BY md5(text)),
         |kept AS MATERIALIZED (SELECT * FROM f WHERE doc_id IN (SELECT keep_id FROM k)),
         |tk2 AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> x != '') AS tk FROM kept),
         |sh2 AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
         |    list_transform(generate_series(1, len(tk) - 2),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |    ELSE [array_to_string(tk, ' ')] END AS sh FROM tk2),
         |hv2 AS (
         |  SELECT doc_id, list_transform(sh, s -> ${hash16Sql("s")}) AS hv
         |  FROM sh2),
         |sig2 AS (
         |  SELECT doc_id, list_transform(generate_series(0, 7), j ->
         |    list_aggregate(list_transform(hv,
         |      h -> ((37*j + 101) * h + (1009*j + 9176)) % 1000000007),
         |      'min')) AS sig FROM hv2),
         |bands2 AS MATERIALIZED (
         |  SELECT doc_id, b AS band_idx,
         |    (sig[b*2+1] % 2147483647) * 2000000011 + sig[b*2+2] AS band_key
         |  FROM sig2, generate_series(0, 3) t(b)),
         |drops AS (
         |  SELECT DISTINCT b.doc_id AS did
         |  FROM bands2 a JOIN bands2 b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |   AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Shared scoring prefix of the two quality-bucket oracles: unigram
    * LM score per document (`j` = doc_id, lang, lm_score) — the same
    * term-sorted float fold as the q_lm_score oracle. */
  private val pplScoreCte: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(lower(text), '\\s+'), x -> x != '')) AS term
       |  FROM documents),
       |c AS (SELECT term, count(*)::BIGINT AS cnt FROM toks GROUP BY term),
       |tot AS (SELECT sum(cnt)::DOUBLE AS tot FROM c),
       |pr AS (
       |  SELECT t.doc_id, c.cnt::DOUBLE / (SELECT tot FROM tot) AS p,
       |    t.term
       |  FROM toks t JOIN c USING (term)),
       |s AS (
       |  SELECT doc_id, ${graft.functions.Rounding.floorRoundSql(
            "list_sum(list(p ORDER BY term)) / count(*)", 6)} AS lm_score
       |  FROM pr GROUP BY doc_id),
       |j AS (
       |  SELECT d.doc_id, coalesce(d.lang, 'und') AS lang, s.lm_score
       |  FROM documents d JOIN s USING (doc_id))""".stripMargin

  /** Unrolled BPE merge loop for the q_bpe_train / q_bpe_encode oracles:
    * seg0 = per-character vocabulary segmentation, then `n` rounds of
    * (pairs_k: adjacent symbol pairs; best_k: argmax pair with the
    * (cnt desc, pair) tiebreak; seg_k: the SAME greedy left-to-right
    * fold as [[graft.operators.BpeStats.mergeFold]], spelled with
    * DuckDB's `list_reduce` — lambdas capture the cross-joined 1-row
    * best_k columns). DuckDB's list_reduce seeds from the first element,
    * Spark's `aggregate` from an empty string with a first-step CASE:
    * identical folds.
    *
    * Layout constraint: the CALLER's template interpolates this text and
    * then calls `.stripMargin` on the combined string — no generated
    * line may start with whitespace + `|` (a leading `||` loses its
    * first pipe), so every `||` here trails its line. */
  private def bpeOracleCtes(n: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s"""toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x != '')) AS word
         |  FROM documents),
         |seg0 AS (
         |  SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym,
         |    count(*)::BIGINT AS wcnt
         |  FROM toks GROUP BY word)""".stripMargin
    for (k <- 1 to n) sb ++=
      s""",
         |pairs$k AS (
         |  SELECT unnest([sp[i] || ' ' || sp[i+1]
         |      for i in range(1, len(sp))]) AS pair, wcnt
         |  FROM (SELECT string_split(sym, ' ') AS sp, wcnt FROM seg${k - 1})),
         |best$k AS (
         |  SELECT $k AS step, split_part(pair, ' ', 1) AS l,
         |    split_part(pair, ' ', 2) AS r, sum(wcnt)::BIGINT AS cnt
         |  FROM pairs$k GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1),
         |seg$k AS (
         |  SELECT word, list_reduce(string_split(sym, ' '), (acc, x) ->
         |    CASE WHEN list_extract(string_split(acc, ' '), -1) = b.l
         |          AND x = b.r
         |         THEN CASE WHEN acc = b.l THEN b.l || b.r
         |              ELSE substring(acc, 1, length(acc) - length(b.l) - 1) ||
         |                ' ' || b.l || b.r END
         |         ELSE acc || ' ' || x END) AS sym, wcnt
         |  FROM seg${k - 1}, best$k b)""".stripMargin
    sb.toString
  }

  /** Unrolled WordPiece greedy loop for the q_wordpiece_encode oracle:
    * vocab = distinct '##'-marked units of the seg8 (BPE-trained)
    * segmentation — MATERIALIZED, or each of the 16 stages re-inlines
    * the whole 8-round merge chain (the chained-CTE blowup trap); then
    * 16 column stages over the distinct-word table, each advancing the
    * greedy cursor by the LONGEST vocab match at the position (list_max
    * over the static 1..16 length band — lengths past the longest unit
    * never match). Same stripMargin layout constraint as
    * [[bpeOracleCtes]]. */
  private def wordpieceOracleCtes(n: Int, maxChars: Int): String = {
    val sb = new StringBuilder
    sb ++= bpeOracleCtes(n)
    sb ++=
      s""",
         |wpv AS MATERIALIZED (
         |  SELECT list(DISTINCT CASE WHEN i = 1 THEN s
         |                            ELSE '##' || s END) AS vs
         |  FROM (SELECT unnest(string_split(sym, ' ')) AS s,
         |          unnest(generate_series(1,
         |            len(string_split(sym, ' ')))) AS i
         |        FROM seg$n)),
         |w0 AS (
         |  SELECT DISTINCT word, 1 AS pos, 0 AS n,
         |    length(word) > $maxChars AS unk
         |  FROM toks)""".stripMargin
    for (k <- 1 to maxChars) sb ++=
      s""",
         |w$k AS (
         |  SELECT word,
         |    CASE WHEN fin OR bl = 0 THEN pos ELSE pos + bl END AS pos,
         |    CASE WHEN fin OR bl = 0 THEN n ELSE n + 1 END AS n,
         |    CASE WHEN fin THEN unk WHEN bl = 0 THEN true
         |         ELSE unk END AS unk
         |  FROM (
         |    SELECT word, pos, n, unk, (unk OR pos > length(word)) AS fin,
         |      CASE WHEN unk OR pos > length(word) THEN 0 ELSE
         |        list_max(list_transform(generate_series(1, $maxChars), l ->
         |          CASE WHEN pos + l - 1 <= length(word)
         |                AND list_contains(vs,
         |                  CASE WHEN pos = 1 THEN substring(word, pos, l)
         |                       ELSE '##' || substring(word, pos, l) END)
         |               THEN l ELSE 0 END)) END AS bl
         |    FROM w${k - 1}, wpv))""".stripMargin
    sb.toString
  }

  /** One unrolled Viterbi dp chain for the unigram-LM oracles: stages
    * `$p1..$p$maxW` over the distinct-word table, each appending the
    * best (ntok, negssum, units) entry for the next prefix length. The
    * winner per position is `list_sort(...)[1]` over (ntok, negssum, l)
    * structs — DuckDB struct sort is lexicographic by field order,
    * matching Spark's `array_min` struct ordering, and the order is
    * total (l unique), so both engines walk the identical path. Same
    * stripMargin layout constraint as [[bpeOracleCtes]]. */
  private def unigramDpCtes(p: String, prev0: String, v: String,
      maxW: Int, maxU: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s""",
         |${p}0 AS (
         |  SELECT word, wcnt,
         |    [{ntok: 0, negssum: 0::BIGINT, units: []::VARCHAR[]}] AS dp
         |  FROM $prev0)""".stripMargin
    for (k <- 1 to maxW) sb ++=
      s""",
         |$p$k AS (
         |  SELECT word, wcnt, list_append(dp,
         |    CASE WHEN $k > length(word) OR best IS NULL
         |    THEN {ntok: 999999, negssum: 0::BIGINT, units: []::VARCHAR[]}
         |    ELSE {ntok: best.ntok, negssum: best.negssum,
         |          units: list_append(dp[$k - best.l + 1].units,
         |            substring(word, $k - best.l + 1, best.l))} END) AS dp
         |  FROM (
         |    SELECT word, wcnt, dp,
         |      (list_sort(list_filter(list_transform(
         |        generate_series(1, $maxU), l ->
         |        CASE WHEN l <= $k AND $k <= length(word)
         |              AND list_position($v.us,
         |                substring(word, $k - l + 1, l)) > 0
         |             THEN {ntok: dp[$k - l + 1].ntok + 1,
         |                   negssum: dp[$k - l + 1].negssum
         |                     - $v.ss[list_position($v.us,
         |                         substring(word, $k - l + 1, l))],
         |                   l: l}
         |             ELSE NULL END), x -> x IS NOT NULL)))[1] AS best
         |    FROM $p${k - 1}, $v))""".stripMargin
    sb.toString
  }

  /** Unrolled 2-round unigram-LM training for the q_unigram_train /
    * q_unigram_encode oracles: seed substring counts → round-1 Viterbi
    * chain (a0..a16) under the seed scores → usage1 → prune multis to
    * keepMulti by (usage desc, unit) → round-2 chain (b0..b16) under the
    * usage scores → usage2. Vocab lists MATERIALIZED (each is referenced
    * by all 16 stages of its round — the wpv rule). */
  private def unigramOracleCtes(nMulti: Int, keepMulti: Int, maxW: Int,
      maxU: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s"""toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x != '')) AS word
         |  FROM documents),
         |wc AS (
         |  SELECT word, count(*)::BIGINT AS wcnt FROM toks
         |  WHERE length(word) <= $maxW GROUP BY word),
         |sub AS (
         |  SELECT substring(word, i, l) AS unit, sum(wcnt)::BIGINT AS score
         |  FROM wc,
         |    unnest(range(1, length(word) + 1)) t(i),
         |    unnest(range(1, ${maxU + 1})) s(l)
         |  WHERE i + l - 1 <= length(word)
         |  GROUP BY 1),
         |v1c AS MATERIALIZED (
         |  SELECT unit, score FROM sub WHERE length(unit) = 1),
         |v1m AS MATERIALIZED (
         |  SELECT unit, score FROM sub WHERE length(unit) >= 2
         |  ORDER BY score DESC, unit LIMIT $nMulti),
         |v1 AS MATERIALIZED (
         |  SELECT list(unit ORDER BY unit) AS us,
         |    list(score ORDER BY unit) AS ss
         |  FROM (SELECT * FROM v1c UNION ALL SELECT * FROM v1m))"""
        .stripMargin
    sb ++= unigramDpCtes("a", "wc", "v1", maxW, maxU)
    sb ++=
      s""",
         |u1 AS MATERIALIZED (
         |  SELECT unit, sum(wcnt)::BIGINT AS usage FROM (
         |    SELECT unnest(dp[length(word) + 1].units) AS unit, wcnt
         |    FROM a$maxW)
         |  GROUP BY unit),
         |v2m AS MATERIALIZED (
         |  SELECT v.unit, coalesce(u.usage, 0::BIGINT) AS score
         |  FROM v1m v LEFT JOIN u1 u USING (unit)
         |  ORDER BY score DESC, v.unit LIMIT $keepMulti),
         |v2c AS MATERIALIZED (
         |  SELECT v.unit, coalesce(u.usage, 0::BIGINT) AS score
         |  FROM v1c v LEFT JOIN u1 u USING (unit)),
         |v2 AS MATERIALIZED (
         |  SELECT list(unit ORDER BY unit) AS us,
         |    list(score ORDER BY unit) AS ss
         |  FROM (SELECT * FROM v2c UNION ALL SELECT * FROM v2m))"""
        .stripMargin
    sb ++= unigramDpCtes("b", "wc", "v2", maxW, maxU)
    sb ++=
      s""",
         |u2 AS MATERIALIZED (
         |  SELECT unit, sum(wcnt)::BIGINT AS usage FROM (
         |    SELECT unnest(dp[length(word) + 1].units) AS unit, wcnt
         |    FROM b$maxW)
         |  GROUP BY unit)""".stripMargin
    sb.toString
  }

  /** Shared by `q_knn_join` AND `q_knn_join_exhaustive`: the exhaustive-
    * probe IVF join is semantically brute force, so both are held to the
    * identical oracle. */
  private val knnJoinOracleSql: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      |  WHERE vec_id < 10),
      |p AS (
      |  SELECT q.query_id, e.vec_id AS match_id,
      |    round(sqrt(list_sum(list_transform(
      |      generate_series(1, len(e.embedding)),
      |      i -> (e.embedding[i]::DOUBLE - q.qv[i]::DOUBLE)
      |         * (e.embedding[i]::DOUBLE - q.qv[i]::DOUBLE)))), 6) AS dist
      |  FROM q, embeddings e),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY dist, match_id) AS rn FROM p)
      |SELECT query_id, match_id, dist, rn FROM r
      |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  /** q_pagerank oracle: the 5 iterations UNROLLED as a CTE chain (the
    * BPE-training pattern); per-node contributions summed via
    * list_reduce over an ORDER BY (src, ord) list, replaying Spark's
    * sorted-array fold bit-for-bit (0.0-seeded fold ≡ first-element
    * fold because 0.0 + x = x exactly for finite positive x). */
  /** Shared synthetic link graph replay (ids, nn, e) — the hash-derived
    * 4-out-edges-per-doc graph behind q_pagerank and q_graph_triangles. */
  private lazy val linkEdgeCteSql: String = {
    val hashE = hash32Sql("'e:' || s.ridx::VARCHAR || ':' || j.ord::VARCHAR")
    s"""ids AS (
       |  SELECT doc_id,
       |    (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT AS ridx
       |  FROM documents),
       |nn AS (SELECT count(*)::BIGINT AS n FROM documents),
       |e AS (
       |  SELECT s.ridx AS src, j.ord AS ord,
       |    ((s.ridx + 1 + ($hashE % (nn.n - 1))) % nn.n) AS dst
       |  FROM ids s, (VALUES (1),(2),(3),(4)) j(ord), nn)""".stripMargin
  }

  /** Unrolled synchronous-LPA replay (the pagerank proof shape): one
    * (counts, argmax, labels) CTE triple per round over the
    * symmetrized simple link graph. Each round's label table is
    * referenced twice (the counts join and the keep-old left join) —
    * MATERIALIZED per the round-10 re-expansion rule; argmax =
    * QUALIFY row_number (count DESC, label ASC), the min-tie-break. */
  /** CTE chunk: the unrolled LPA chain ending in `comm(doc_id,
    * community)` — shared by q_label_prop and the community-labeling
    * composition. */
  private lazy val labelPropCteSql: String = {
    val iters = 4
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT adj.node AS node, p.lbl AS lbl, count(*) AS cnt
         |  FROM adj JOIN l${i - 1} p ON adj.nbr = p.node
         |  GROUP BY adj.node, p.lbl),
         |b$i AS (
         |  SELECT node, lbl AS new_lbl FROM c$i
         |  QUALIFY row_number() OVER (PARTITION BY node
         |    ORDER BY cnt DESC, lbl ASC) = 1),
         |l$i AS MATERIALIZED (
         |  SELECT p.node, coalesce(b$i.new_lbl, p.lbl) AS lbl
         |  FROM l${i - 1} p LEFT JOIN b$i ON p.node = b$i.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""$linkEdgeCteSql,
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e WHERE src <> dst),
       |adj AS MATERIALIZED (
       |  SELECT a AS node, b AS nbr FROM und
       |  UNION ALL SELECT b AS node, a AS nbr FROM und),
       |l0 AS MATERIALIZED (SELECT ridx AS node, ridx AS lbl FROM ids),
       |$steps,
       |comm AS MATERIALIZED (
       |  SELECT ids.doc_id, l$iters.lbl AS community
       |  FROM ids JOIN l$iters ON ids.ridx = l$iters.node)""".stripMargin
  }

  private lazy val labelPropOracleSql: String =
    s"""WITH $labelPropCteSql
       |SELECT doc_id, community FROM comm""".stripMargin

  private lazy val pagerankOracleSql: String = {
    val iters = 5
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT eo.dst AS node,
         |    list_reduce(list(r${i - 1}.r / eo.odeg ORDER BY eo.src, eo.ord),
         |      (a, b) -> a + b) AS cs
         |  FROM eo JOIN r${i - 1} ON eo.src = r${i - 1}.node
         |  GROUP BY eo.dst),
         |r$i AS (
         |  SELECT ids.ridx AS node,
         |    0.125::DOUBLE / nn.n::DOUBLE
         |      + 0.875::DOUBLE * coalesce(c$i.cs, 0.0::DOUBLE) AS r
         |  FROM ids CROSS JOIN nn LEFT JOIN c$i ON ids.ridx = c$i.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $linkEdgeCteSql,
       |od AS (SELECT src, count(*)::DOUBLE AS odeg FROM e GROUP BY src),
       |eo AS (SELECT e.src, e.ord, e.dst, od.odeg FROM e JOIN od USING (src)),
       |r0 AS (SELECT ids.ridx AS node, 1.0::DOUBLE / nn.n::DOUBLE AS r
       |  FROM ids CROSS JOIN nn),
       |$steps
       |SELECT ids.doc_id, r$iters.r AS pagerank
       |FROM r$iters JOIN ids ON r$iters.node = ids.ridx
       |ORDER BY ids.doc_id""".stripMargin
  }

  /** Shared aHash replay chain: expects a CTE `d(doc_id, seed, w, h,
    * tx, ty)` (tx/ty = −1 for no tweak) and yields `ph(doc_id,
    * phash_hi, phash_lo)` — the exact integer pipeline of
    * [[graft.operators.Multimodal.imagePhashPartitions]] over the
    * id-derived PNG pixel formula. */
  private lazy val phashCteSql: String =
    """xs AS (
      |  SELECT doc_id, seed, w, h, tx, ty,
      |    unnest(generate_series(0, w - 1)) AS x
      |  FROM d),
      |pxy AS (
      |  SELECT doc_id, seed, w, h, tx, ty, x,
      |    unnest(generate_series(0, h - 1)) AS y
      |  FROM xs),
      |pv AS (
      |  SELECT doc_id, w, h, x, y,
      |    CASE WHEN x = tx AND y = ty
      |      THEN (v & 16776960) | ((v + 1) & 255) ELSE v END AS v
      |  FROM (SELECT *, (seed * 31 + 7 * x + 13 * y) & 16777215 AS v
      |        FROM pxy)),
      |lum AS (
      |  SELECT doc_id, w, h, ((y * 8) // h) * 8 + (x * 8) // w AS b,
      |    ((v >> 16) & 255) + ((v >> 8) & 255) + (v & 255) AS lv
      |  FROM pv),
      |bs AS (
      |  SELECT doc_id, w, h, b, sum(lv)::BIGINT AS s,
      |    count(*)::BIGINT AS c
      |  FROM lum GROUP BY doc_id, w, h, b),
      |tt AS (SELECT doc_id, sum(s)::BIGINT AS tot FROM bs
      |  GROUP BY doc_id),
      |bits AS (
      |  SELECT bs.doc_id, bs.b,
      |    CASE WHEN bs.s * (bs.w * bs.h) > tt.tot * bs.c
      |      THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      |  FROM bs JOIN tt USING (doc_id)),
      |ph AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN b >= 32 THEN bit << (b - 32) ELSE 0 END)::BIGINT
      |      AS phash_hi,
      |    sum(CASE WHEN b < 32 THEN bit << b ELSE 0 END)::BIGINT
      |      AS phash_lo
      |  FROM bits GROUP BY doc_id)""".stripMargin

  private def substrCountSql(text: String, m: String): String =
    s"((len($text) - len(replace($text, '$m', ''))) // ${m.length})"

  private def langScoreSql(markers: Seq[String]): String =
    markers.map(m => substrCountSql("padded", m)).mkString("(", " + ", ")")

  private val langIdSql: String = {
    val scores = langMarkers.map { case (l, ms) =>
      s"${langScoreSql(ms)} AS s_$l"
    }.mkString(", ")
    val best = langMarkers.map(l => s"s_${l._1}")
      .reduce((a, b) => s"greatest($a, $b)")
    val cascade = langMarkers.map { case (l, _) =>
      s"WHEN s_$l = best AND s_$l > 0 THEN '$l'"
    }.mkString(" ")
    s"""WITH t AS (
       |  SELECT doc_id, text, ' ' || lower(text) || ' ' AS padded
       |  FROM documents),
       |sc AS (SELECT doc_id, text, $scores FROM t),
       |b AS (SELECT *, $best AS best FROM sc)
       |SELECT doc_id,
       |  CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0
       |       THEN 'zh' $cascade ELSE 'und' END AS pred_lang
       |FROM b ORDER BY doc_id""".stripMargin
  }

  private val stopSql = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** Shared DSIR replay CTEs (`dw` = (doc_id, dsir_weight, n_tokens)
    * for every non-English doc): same md5-nibble bucket hash as the
    * Spark side, same add-one-smoothed fixed-point ratio in HUGEINT
    * (`//` == Spark `div` on positives). Used by q_dsir_weights and
    * q_dsir_select. */
  /** The synthetic-page construction replay shared by q_c4_filters and
    * q_release_funnel (`tkx` + `pg`, page column named `page`). */
  private val c4PageCtes: String =
    """tkx AS (
      |  SELECT doc_id, lang, source, list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> x != '') AS tk
      |  FROM documents),
      |pg AS (
      |  SELECT doc_id, concat_ws(chr(10),
      |    'about the ' || source || ' network.',
      |    coalesce(array_to_string(tk[1:12], ' '), '') || '.',
      |    coalesce(array_to_string(tk[13:16], ' '), ''),
      |    CASE WHEN doc_id % 7 = 0
      |         THEN 'please enable javascript to continue.'
      |         ELSE coalesce(array_to_string(tk[17:24], ' '), '') || '?' END,
      |    CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.'
      |         ELSE 'copyright ' || lang || ' all rights reserved.' END,
      |    CASE WHEN doc_id % 13 = 0 THEN 'function() { return; }'
      |         ELSE coalesce(array_to_string(tk[25:26], ' '), '') || '!' END,
      |    'subscribe',
      |    coalesce(array_to_string(tk[30:35], ' '), '') || '.') AS page
      |  FROM tkx)""".stripMargin

  /** The C4 cleanse stage of q_release_funnel: the page chunk + the
    * kept-line/page-drop rules, surfacing the surviving docs as
    * `c4src` (doc_id, text = the cleaned page). */
  private def releaseC4Ctes: String =
    s"$c4PageCtes,\n" +
    """c4k AS (
      |  SELECT doc_id, page,
      |    list_filter(string_split(page, chr(10)), l ->
      |      right(l, 1) IN ('.', '!', '?', '"')
      |      AND len(list_filter(string_split_regex(lower(l), '\s+'),
      |              x -> x != '')) >= 3
      |      AND NOT contains(lower(l), 'javascript')) AS kept
      |  FROM pg),
      |c4src AS MATERIALIZED (
      |  SELECT doc_id, array_to_string(kept, chr(10)) AS text
      |  FROM c4k
      |  WHERE NOT (contains(lower(page), 'lorem ipsum')
      |             OR contains(lower(page), '{'))
      |    AND len(kept) >= 5)""".stripMargin

  private def dsirCteSql: String = dsirCteOf(
    s"""toks AS (
       |  SELECT doc_id, lang = 'en' AS is_target,
       |    unnest(list_filter(
       |      string_split_regex(lower(text), '\\s+'), x -> x != '')) AS term
       |  FROM documents)""".stripMargin)

  /** The bigram-feature variant (Xie et al. §3's actual space):
    * adjacent-token pairs via zip-unnest + lead() (the no-list-unnest
    * memory rule), space-joined exactly as the Spark concat_ws. */
  private def dsirBigramCteSql: String = dsirCteOf(
    s"""tk AS (
       |  SELECT doc_id, lang = 'en' AS is_target, list_filter(
       |    string_split_regex(lower(text), '\\s+'), x -> x != '') AS tk
       |  FROM documents),
       |ex AS (
       |  SELECT doc_id, is_target, len(tk) AS sz, unnest(tk) AS tok,
       |    unnest(generate_series(1, len(tk))) AS p
       |  FROM tk),
       |toks AS (
       |  SELECT doc_id, is_target,
       |    tok || ' ' || lead(tok, 1) OVER win AS term
       |  FROM ex WINDOW win AS (PARTITION BY doc_id ORDER BY p)
       |  QUALIFY p <= sz - 1)""".stripMargin)

  private def dsirCteOf(termsCte: String): String =
    s"$termsCte,\n" + dsirProfileChunk

  /** The profile→marginals→scores→weights chain over a `toks` CTE
    * exposing (doc_id, is_target, term) — the embeddable half of
    * [[dsirCteOf]] (q_release_funnel supplies its own survivor-scoped
    * `toks`). */
  private def dsirProfileChunk: String =
    s"""bk AS MATERIALIZED (
       |  SELECT doc_id, is_target,
       |    ${hash16Sql("term")} % 256 AS bucket
       |  FROM toks),
       |prof AS MATERIALIZED (
       |  SELECT doc_id, is_target, bucket, count(*)::BIGINT AS cnt
       |  FROM bk GROUP BY 1, 2, 3),
       |marg AS (
       |  SELECT bucket,
       |    coalesce(sum(cnt) FILTER (WHERE is_target), 0)::BIGINT AS ct,
       |    coalesce(sum(cnt) FILTER (WHERE NOT is_target), 0)::BIGINT AS cr
       |  FROM prof GROUP BY 1),
       |tot AS (
       |  SELECT sum(ct)::BIGINT AS ctt, sum(cr)::BIGINT AS crt FROM marg),
       |sc AS (
       |  SELECT bucket,
       |    ((10000::HUGEINT * (ct + 1) * (crt + 256))
       |      // ((cr + 1)::HUGEINT * (ctt + 256)))::BIGINT AS s
       |  FROM marg, tot),
       |dw AS MATERIALIZED (
       |  SELECT p.doc_id, sum(p.cnt * s.s)::BIGINT AS dsir_weight,
       |    sum(p.cnt)::BIGINT AS n_tokens
       |  FROM prof p JOIN sc s USING (bucket)
       |  WHERE NOT p.is_target
       |  GROUP BY p.doc_id)""".stripMargin

  /** DuckDB spelling of TextFunctions.tokenHash16/32: first `digits` md5
    * hex digits as a BIGINT via nibble arithmetic (portable, no hex casts). */
  private def hashNSql(e: String, digits: Int): String =
    (1 to digits).map { i =>
      val mult = 1L << ((digits - i) * 4)
      s"(strpos('0123456789abcdef', substr(md5($e), $i, 1)) - 1) * $mult"
    }.mkString("(", " + ", ")")
  private def hash16Sql(e: String): String = hashNSql(e, 4)
  private def hash32Sql(e: String): String = hashNSql(e, 8)

  /** Anchor-token lists behind the q_quality_classifier weights: clean
    * anchors are the corpus' query-language vocabulary, junk anchors mix
    * spam markers with two in-corpus negatives ("slow", "dup") so real
    * docs land on BOTH sides of the threshold. Shared by the Spark
    * weights ([[graft.operators.QualityRules.anchorWeights]]) and the
    * oracle's SQL replay of the same derivation. */
  private val clfCleanAnchors = Seq("query", "join", "filter", "window",
    "scan", "hash", "merge", "sort", "vector", "table", "column", "data")
  private val clfJunkAnchors = Seq("slow", "dup", "spam", "click",
    "free", "casino", "lottery", "winner")

  /** Shared CTE chain producing the per-doc quality relation
    * `q(doc_id, quality)` — the DuckDB replay of
    * [[graft.functions.TextFunctions.withQualityScore]], used by both
    * the quality oracle and the weighted-sample oracle. */
  private lazy val qualityCteSql: String =
    s"""t AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> x != '') AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, text, toks, len(toks) AS n,
       |    least(len(text)::DOUBLE / 500.0, 1.0) AS len_score,
       |    len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE
       |      / greatest(len(text)::DOUBLE, 1.0) AS punct_ratio,
       |    CASE WHEN len(toks) > 0 THEN
       |      len(list_filter(toks, t -> list_contains($stopSql, t)))::DOUBLE
       |        / len(toks)::DOUBLE ELSE 0.0 END AS stop_ratio,
       |    CASE WHEN len(toks) > 0 THEN
       |      list_sum(list_transform(toks, t -> len(t)))::DOUBLE
       |        / len(toks)::DOUBLE ELSE 0.0 END AS avg_tok_len
       |  FROM t),
       |q AS (
       |  SELECT doc_id,
       |    floor((len_score * 0.25
       |      + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.25
       |      + least(stop_ratio * 5.0, 1.0) * 0.25
       |      + least(avg_tok_len / 10.0, 1.0)* 0.25) * 10000.0 + 0.5) / 10000.0
       |      AS quality
       |  FROM m)""".stripMargin

  /** Shared CTE chain producing the MinHash-LSH candidate pairs relation
    * `pairs(id1, id2)` — used by both the pair oracle and the
    * connected-components oracle. */
  /** Shared by q_simhash_pairs and its bucketed-table twin
    * (identical output by construction). */
  private val simhashPairsOracleSql: String =
      """WITH t AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_filter(string_split_regex(lower(text), '\s+'), x -> x != ''),
        |      tk -> (strpos('0123456789abcdef', substr(md5(tk), 1, 1)) - 1) * 4096
        |          + (strpos('0123456789abcdef', substr(md5(tk), 2, 1)) - 1) * 256
        |          + (strpos('0123456789abcdef', substr(md5(tk), 3, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(md5(tk), 4, 1)) - 1)
        |    ) AS hashes
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    coalesce(list_sum(list_transform(generate_series(0, 15), b ->
        |      CASE WHEN list_sum(list_transform(hashes, h ->
        |             CASE WHEN (floor(h / (2.0 ** b))::BIGINT % 2) = 1
        |                  THEN 1 ELSE -1 END)) > 0
        |           THEN 2.0 ** b ELSE 0 END))::BIGINT, 0) AS fp
        |  FROM t),
        |b AS (
        |  SELECT doc_id, fp, bi,
        |    CASE bi WHEN 0 THEN fp % 64
        |            WHEN 1 THEN (fp // 64) % 32
        |            ELSE (fp // 2048) % 32 END AS bv
        |  FROM f CROSS JOIN (SELECT unnest([0, 1, 2]) AS bi) u),
        |g AS (SELECT bi, bv FROM b GROUP BY 1, 2 HAVING count(*) <= 512),
        |gb AS (SELECT b.* FROM b JOIN g USING (bi, bv))
        |SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2,
        |  bit_count(xor(a.fp, c.fp))::INT AS hamming
        |FROM gb a JOIN gb c
        |  ON a.bi = c.bi AND a.bv = c.bv AND a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.fp, c.fp)) <= 2
        |ORDER BY id1, id2""".stripMargin

  /** Hot-bucket valve for the declared minhash keys (q_dedup_minhash /
    * q_dedup_minhash_bucketed / q_minhash_est) — the containment-family
    * 64 convention: far above every bucket the shaped corpora produce
    * (sf0.1 max band bucket is ~8), tripped only by the 100×-replication
    * regime where emission would be Σ cluster² (sf10 soak: 175M pairs).
    * The oracle replays the same gate ([[lshPairsCteValved]]). */
  private val LshMaxBucket = 64

  private val lshBandsCte: String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    x -> x != '') AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
       |    list_transform(generate_series(1, len(tk) - 2),
       |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
       |    ELSE [array_to_string(tk, ' ')] END AS sh FROM toks),
       |hv AS (
       |  SELECT doc_id, list_transform(sh,
       |    s -> (strpos('0123456789abcdef', substr(md5(s), 1, 1)) - 1) * 4096
       |       + (strpos('0123456789abcdef', substr(md5(s), 2, 1)) - 1) * 256
       |       + (strpos('0123456789abcdef', substr(md5(s), 3, 1)) - 1) * 16
       |       + (strpos('0123456789abcdef', substr(md5(s), 4, 1)) - 1)) AS hv
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id, list_transform(generate_series(0, 7), j ->
       |    list_aggregate(list_transform(hv,
       |      h -> ((37*j + 101) * h + (1009*j + 9176)) % 1000000007),
       |      'min')) AS sig FROM hv),
       |bands AS (
       |  SELECT doc_id, b AS band_idx,
       |    (sig[b*2+1] % 2147483647) * 2000000011 + sig[b*2+2] AS band_key
       |  FROM sig, generate_series(0, 3) t(b))""".stripMargin

  /** [[lshBandsCte]] + the pairs CTE with the hot-bucket valve replayed:
    * buckets over `maxBucket` members emit no pairs (the Spark-side
    * `Dedup.lshCandidatePairs(maxBucket = ...)` gate). EVERY declared
    * LSH-pair consumer (minhash, est, components, cluster_rep,
    * split_leakage_safe, jaccard_lsh) runs the valved relation at
    * [[LshMaxBucket]] — one family, one gate. */
  private def lshPairsCteValved(maxBucket: Int): String = lshBandsCte +
    s""",
       |bkt AS (
       |  SELECT band_idx, band_key FROM bands
       |  GROUP BY 1, 2 HAVING count(*) <= $maxBucket),
       |gb AS (
       |  SELECT b.doc_id, b.band_idx, b.band_key
       |  FROM bands b JOIN bkt k
       |    ON b.band_idx = k.band_idx AND b.band_key = k.band_key),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM gb a JOIN gb b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id)""".stripMargin

  /** BM25 keyword scores over the documents table — delegates to
    * [[graft.operators.Bm25.scores]] (formula, determinism, and scale
    * notes there). Shared by q_bm25_rank and q_rrf_fusion. */
  private def bm25Scores(s: SparkSession, d: String,
                         kws: Seq[String]): DataFrame =
    graft.operators.Bm25.scores(Tables.documents(s, d), col("doc_id"),
      col("text"), kws, docCount(s, d))

  /** Top-15 documents for the keywords join/filter/window/scan, score
    * descending with a doc_id tiebreak (q_bm25_rank, q_bm25_maxscore). */
  private def bm25Top15(s: SparkSession, d: String): DataFrame =
    bm25Scores(s, d, Seq("join", "filter", "window", "scan"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(15)

  /** Dirichlet-smoothed query-likelihood scores (Zhai & Lafferty 2001)
    * over the documents table — see the q_ql_dirichlet comment for the
    * estimator. Scale shape: tokenization map-side; the per-(doc, term)
    * frame is doc-lengths × a |q|-row broadcast (linear — the sanctioned
    * bounded-crossJoin shape, PlanSpec allowedBnlj); cf and the 1-row
    * total broadcast; corpus shuffles are the doc-length groupBy and
    * the per-doc product regroup — the bm25Scores shape exactly. */
  private def qlScores(s: SparkSession, d: String,
                       kws: Seq[String]): DataFrame = {
    import s.implicits._
    val mu = 64.0
    val terms = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val dls = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    // 1-row lazy broadcast aggregate (the bm25 avgdl shape)
    val tot = terms.agg(count(lit(1)).cast("double").as("total"))
    val qterms = kws.toDF("term")
    val cf = terms.filter(col("term").isin(kws: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val tf = terms.filter(col("term").isin(kws: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val v = (coalesce(col("tf"), lit(0L)).cast("double") +
        lit(mu) * (coalesce(col("cf"), lit(0L)).cast("double")
          / col("total"))) /
      (col("dl").cast("double") + lit(mu))
    dls.crossJoin(broadcast(qterms))
      .join(broadcast(cf), Seq("term"), "left")
      .join(tf, Seq("doc_id", "term"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("v", v)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("term"), col("v"))))
        .as("arr"))
      .withColumn("score", aggregate(col("arr"), lit(1.0),
        (a, x) => a * x.getField("v")))
      .select(col("doc_id"), col("score"))
  }

  /** Shared CTE chunk for the Dirichlet QL score (q_ql_dirichlet and
    * the 4-way fusion): ends with `qls` (doc_id, score). CTE names are
    * ql-prefixed so the chunk composes beside bm25ScoreCte/qvCte. */
  private val qlScoreCte: String =
    """qlt AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> x != '')) AS term
      |  FROM documents),
      |qldl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM qlt
      |         GROUP BY doc_id),
      |qltot AS (SELECT count(*)::DOUBLE AS total FROM qlt),
      |qlq AS (SELECT unnest(['join', 'filter', 'window', 'scan']) AS term),
      |qlcf AS (
      |  SELECT term, count(*)::BIGINT AS cf FROM qlt
      |  WHERE term IN ('join', 'filter', 'window', 'scan')
      |  GROUP BY term),
      |qltf AS (
      |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM qlt
      |  WHERE term IN ('join', 'filter', 'window', 'scan')
      |  GROUP BY doc_id, term),
      |qlv AS (
      |  SELECT d.doc_id, qlq.term,
      |    (coalesce(qltf.tf, 0)::DOUBLE +
      |       64.0 * (coalesce(qlcf.cf, 0)::DOUBLE
      |                 / (SELECT total FROM qltot)))
      |      / (d.dl::DOUBLE + 64.0) AS v
      |  FROM qldl d
      |  CROSS JOIN qlq
      |  LEFT JOIN qlcf ON qlq.term = qlcf.term
      |  LEFT JOIN qltf ON d.doc_id = qltf.doc_id AND qlq.term = qltf.term),
      |qls AS (
      |  SELECT doc_id,
      |    list_reduce(list(v ORDER BY term), (a, b) -> a * b) AS score
      |  FROM qlv GROUP BY doc_id)""".stripMargin

  /** Shared CTE chunk for the minimal-span sweep (q_prox_minspan and
    * the 4-way fusion): ends with `pxs` (doc_id, min_span, n_occ). */
  private val proxSpanCte: String =
    """pxt AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> x != '') AS tk
      |  FROM documents),
      |pxp AS (
      |  SELECT doc_id, unnest(tk) AS term,
      |    unnest(generate_series(1, len(tk))) AS pos
      |  FROM pxt),
      |pxf AS (
      |  SELECT doc_id, pos, term FROM pxp
      |  WHERE term IN ('join', 'filter', 'window', 'scan')),
      |pxw AS (
      |  SELECT doc_id, pos,
      |    max(CASE WHEN term = 'join' THEN pos END) OVER w AS l0,
      |    max(CASE WHEN term = 'filter' THEN pos END) OVER w AS l1,
      |    max(CASE WHEN term = 'window' THEN pos END) OVER w AS l2,
      |    max(CASE WHEN term = 'scan' THEN pos END) OVER w AS l3
      |  FROM pxf
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |pxsp AS (
      |  SELECT doc_id,
      |    CASE WHEN l0 IS NOT NULL AND l1 IS NOT NULL
      |          AND l2 IS NOT NULL AND l3 IS NOT NULL
      |         THEN pos - least(l0, l1, l2, l3) + 1 END AS span
      |  FROM pxw),
      |pxs AS (
      |  SELECT doc_id, min(span)::INT AS min_span,
      |    count(*)::BIGINT AS n_occ
      |  FROM pxsp GROUP BY doc_id HAVING min(span) IS NOT NULL)""".stripMargin

  private val qvCte =
    "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)"

  /** DuckDB replay of [[graft.operators.Mmr.diversify]] over the cosine
    * top-`n` candidates: the greedy loop unrolled as a `k`-step CTE
    * chain (selᵢ = selᵢ₋₁ ∪ argmax of the marginal score), every sim
    * rounded to 6 before the exact λ = 1/2 arithmetic, ties on the id. */
  private def mmrOracleSql(n: Int, k: Int): String = {
    def cos(a: String, b: String): String =
      s"round(list_sum(list_transform(generate_series(1, len($a)), " +
        s"i -> $a[i] * $b[i])) / (sqrt(list_sum(list_transform($a, " +
        s"x -> x * x))) * sqrt(list_sum(list_transform($b, " +
        s"x -> x * x)))), 6)"
    val sb = new StringBuilder
    sb ++= s"WITH $qvCte,\n"
    sb ++=
      s"""cand AS MATERIALIZED (
         |  SELECT e.vec_id AS id,
         |    list_transform(e.embedding, x -> x::DOUBLE) AS vec,
         |    round(
         |      list_sum(list_transform(generate_series(1, len(e.embedding)),
         |        i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
         |      / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
         |       * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))),
         |    6) AS qsim
         |  FROM embeddings e, q ORDER BY qsim DESC, e.vec_id LIMIT $n),
         |sel1 AS MATERIALIZED (
         |  SELECT 1 AS rank, id, 0.5::DOUBLE * qsim AS score FROM cand
         |  ORDER BY score DESC, id LIMIT 1)""".stripMargin
    for (s <- 2 to k) {
      sb ++=
        s""",
           |sel$s AS MATERIALIZED (
           |  SELECT * FROM sel${s - 1}
           |  UNION ALL
           |  SELECT * FROM (
           |    SELECT $s AS rank, c.id,
           |      0.5::DOUBLE * c.qsim - 0.5::DOUBLE * (
           |        SELECT max(${cos("c.vec", "s2.vec")})
           |        FROM cand s2 JOIN sel${s - 1} p ON s2.id = p.id) AS score
           |    FROM cand c
           |    WHERE c.id NOT IN (SELECT id FROM sel${s - 1})
           |    ORDER BY score DESC, c.id LIMIT 1) t$s)""".stripMargin
    }
    sb ++= s"\nSELECT rank, id, " +
      graft.functions.Rounding.floorRoundSql("score", 6) +
      s" AS mmr_score FROM sel$k ORDER BY rank"
    sb.toString
  }

  /** DuckDB replay of the GROUPED MMR (q_mmr_join): per-query top-`n`
    * cosine candidates via a partitioned QUALIFY, then the unrolled
    * greedy chain with a per-qid argmax at every step. */
  private def mmrJoinOracleSql(nQueries: Int, n: Int, k: Int): String = {
    def cos(a: String, b: String): String =
      s"round(list_sum(list_transform(generate_series(1, len($a)), " +
        s"i -> $a[i] * $b[i])) / (sqrt(list_sum(list_transform($a, " +
        s"x -> x * x))) * sqrt(list_sum(list_transform($b, " +
        s"x -> x * x)))), 6)"
    val sb = new StringBuilder
    sb ++=
      s"""WITH q3 AS MATERIALIZED (
         |  SELECT vec_id AS qid, list_transform(embedding, x -> x::DOUBLE) AS qv
         |  FROM embeddings WHERE vec_id < $nQueries),
         |cand AS MATERIALIZED (
         |  SELECT q3.qid, e.vec_id AS id,
         |    list_transform(e.embedding, x -> x::DOUBLE) AS vec,
         |    round(
         |      list_sum(list_transform(generate_series(1, len(e.embedding)),
         |        i -> e.embedding[i]::DOUBLE * q3.qv[i]))
         |      / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
         |       * sqrt(list_sum(list_transform(q3.qv, x -> x * x)))),
         |    6) AS qsim
         |  FROM embeddings e, q3
         |  QUALIFY row_number() OVER (PARTITION BY q3.qid
         |    ORDER BY qsim DESC, e.vec_id) <= $n),
         |sel1 AS MATERIALIZED (
         |  SELECT qid, 1 AS rank, id, 0.5::DOUBLE * qsim AS score FROM cand
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY score DESC, id) = 1)""".stripMargin
    for (s <- 2 to k) {
      sb ++=
        s""",
           |sel$s AS MATERIALIZED (
           |  SELECT * FROM sel${s - 1}
           |  UNION ALL
           |  SELECT qid, $s AS rank, id, score FROM (
           |    SELECT c.qid, c.id,
           |      0.5::DOUBLE * c.qsim - 0.5::DOUBLE * (
           |        SELECT max(${cos("c.vec", "s2.vec")})
           |        FROM cand s2 JOIN sel${s - 1} p
           |          ON s2.qid = c.qid AND p.qid = c.qid AND s2.id = p.id) AS score
           |    FROM cand c
           |    WHERE NOT EXISTS (SELECT 1 FROM sel${s - 1} p2
           |                      WHERE p2.qid = c.qid AND p2.id = c.id))
           |  QUALIFY row_number() OVER (PARTITION BY qid
           |    ORDER BY score DESC, id) = 1)""".stripMargin
    }
    sb ++= s"\nSELECT qid, rank, id, " +
      graft.functions.Rounding.floorRoundSql("score", 6) +
      s" AS mmr_score FROM sel$k ORDER BY qid, rank"
    sb.toString
  }

  /** BM25 oracle CTE chain ending in `r(doc_id, score)` — the DuckDB
    * replay of [[bm25Scores]], shared by q_bm25_rank and q_rrf_fusion. */
  private val bm25ScoreCte: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(lower(text), '\\s+'), x -> x != '')) AS term
       |  FROM documents),
       |dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dls),
       |n AS (SELECT count(*) AS n FROM documents),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE term IN ('join', 'filter', 'window', 'scan')
       |  GROUP BY doc_id, term),
       |dfreq AS (
       |  SELECT term, count(DISTINCT doc_id) AS df FROM toks
       |  WHERE term IN ('join', 'filter', 'window', 'scan')
       |  GROUP BY term),
       |ts AS (
       |  SELECT t.doc_id, t.term,
       |    (((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
       |      * (t.tf * 2.2)
       |      / (t.tf + 1.2 * (1.0 - 0.75
       |          + 0.75 * l.dl / (SELECT avgdl FROM stats))) AS s
       |  FROM tf t JOIN dfreq d USING (term) JOIN dls l USING (doc_id)),
       |r AS (
       |  SELECT doc_id, ${graft.functions.Rounding.floorRoundSql(
            "list_sum(list(s ORDER BY term))", 6)} AS score
       |  FROM ts GROUP BY doc_id)""".stripMargin

  /** The q_bm25_rank replay, shared verbatim with q_bm25_maxscore
    * (the same exhaustive top-k plan) and q_bm25_served (exact
    * maintained statistics == batch-derived statistics). */
  private lazy val bm25Top15OracleSql: String =
    s"""WITH $bm25ScoreCte
       |SELECT doc_id, score FROM r
       |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin

  /** Shared by every `q_ann_*_exhaustive` serving proof: with
    * exhaustive parameters (all cells probed / corpus-sized beam /
    * corpus-sized refine window) each persisted-index serve is
    * semantically brute force, so all are held to the identical
    * brute-force top-10 oracle. */
  private val annServeExhaustiveOracleSql: String =
    s"""WITH $qvCte
       |SELECT e.vec_id, e.label,
       |  round(sqrt(list_sum(list_transform(
       |    generate_series(1, len(e.embedding)),
       |    i -> (e.embedding[i]::DOUBLE - q.qv[i]::DOUBLE)
       |       * (e.embedding[i]::DOUBLE - q.qv[i]::DOUBLE)))), 6) AS dist
       |FROM embeddings e, q
       |ORDER BY dist, vec_id LIMIT 10""".stripMargin

  /** The q_rrf_fusion4 replay, shared verbatim with
    * q_rrf_fusion_ann_exhaustive (exhaustive ANN serve == brute force
    * == this SQL). */
  private def rrfFusion4Sql: String =
    s"""WITH $bm25ScoreCte,
         |bm AS (
         |  SELECT doc_id AS id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS br
         |  FROM r QUALIFY br <= 20),
         |$qlScoreCte,
         |qlr AS (
         |  SELECT doc_id AS id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS qr
         |  FROM qls QUALIFY qr <= 20),
         |$proxSpanCte,
         |pxr AS (
         |  SELECT doc_id AS id,
         |    row_number() OVER (ORDER BY min_span ASC, doc_id) AS pr
         |  FROM pxs QUALIFY pr <= 20),
         |$qvCte,
         |cv AS (
         |  SELECT e.vec_id,
         |    round(
         |      list_sum(list_transform(generate_series(1, len(e.embedding)),
         |        i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
         |      / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
         |       * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))),
         |    6) AS cos_sim
         |  FROM embeddings e, q),
         |cvr AS (
         |  SELECT vec_id AS id,
         |    row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS cr
         |  FROM cv QUALIFY cr <= 20),
         |j1 AS (
         |  SELECT coalesce(bm.id, qlr.id) AS id, br, qr
         |  FROM bm FULL JOIN qlr ON bm.id = qlr.id),
         |j2 AS (
         |  SELECT coalesce(j1.id, pxr.id) AS id, br, qr, pr
         |  FROM j1 FULL JOIN pxr ON j1.id = pxr.id),
         |f AS (
         |  SELECT coalesce(j2.id, cvr.id) AS id,
         |    coalesce(1.0::DOUBLE / (60 + br), 0.0::DOUBLE)
         |      + coalesce(1.0::DOUBLE / (60 + qr), 0.0::DOUBLE)
         |      + coalesce(1.0::DOUBLE / (60 + pr), 0.0::DOUBLE)
         |      + coalesce(1.0::DOUBLE / (60 + cr), 0.0::DOUBLE) AS rrf
         |  FROM j2 FULL JOIN cvr ON j2.id = cvr.id)
         |SELECT id, ${graft.functions.Rounding.floorRoundSql("rrf", 6)}
         |    AS rrf_score
         |FROM f ORDER BY rrf_score DESC, id LIMIT 10""".stripMargin

  val oracles: Map[String, String] = Map(
    // PQ with iters=0: codebooks = the 16 seed rows (smallest
    // md5('seed:'||id) — the trainCodebooks rule), so DuckDB can recompute
    // per-row codes (per-subspace argmin with (dist, code) tiebreak) and
    // ADC distances (query→centroid sub-distances summed in subspace
    // order) from scratch. list(… ORDER BY sub) + list_sum keeps the
    // fold left-to-right for IEEE parity with the Scala reduce.
    // SQ8 replay: per-dim min/max grid, floor-encode with 255 clamp,
    // midpoint-reconstruction distance folded in dim order — the same
    // array-expression style as the kNN oracles
    "q_ann_sq8" ->
      s"""WITH $qvCte,
         |stats AS (
         |  SELECT d, min(x) AS mn, (max(x) - min(x)) / 255.0::DOUBLE AS sc
         |  FROM (SELECT unnest(embedding)::DOUBLE AS x,
         |               unnest(range(0, len(embedding))) AS d
         |        FROM embeddings)
         |  GROUP BY d),
         |g AS (SELECT list(mn ORDER BY d) AS mins, list(sc ORDER BY d) AS scs
         |      FROM stats),
         |c AS (
         |  SELECT e.vec_id,
         |    list_transform(generate_series(1, len(e.embedding)),
         |      i -> CASE WHEN g.scs[i] = 0 THEN 0
         |           ELSE least(255,
         |             floor((e.embedding[i]::DOUBLE - g.mins[i]) / g.scs[i])::INT)
         |           END) AS codes
         |  FROM embeddings e, g)
         |SELECT c.vec_id,
         |  array_to_string(c.codes, ',') AS codes_str,
         |  round(sqrt(list_sum(list_transform(
         |    generate_series(1, len(q.qv)),
         |    i -> (q.qv[i]::DOUBLE - (g.mins[i] + (c.codes[i]::DOUBLE + 0.5) * g.scs[i]))
         |       * (q.qv[i]::DOUBLE - (g.mins[i] + (c.codes[i]::DOUBLE + 0.5) * g.scs[i]))))), 6)
         |    AS dist
         |FROM c, q, g
         |ORDER BY dist, vec_id LIMIT 20""".stripMargin,

    "q_pq_adc" ->
      s"""WITH $qvCte,
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code, sv
         |  FROM (SELECT md5('seed:' || CAST(vec_id AS VARCHAR)) AS h,
         |               vec_id, embedding AS sv
         |        FROM embeddings ORDER BY h, vec_id LIMIT 16)),
         |subs AS (SELECT unnest(range(0, 8)) AS sub),
         |cand AS (
         |  SELECT e.vec_id, sb.sub, s.code,
         |    list_sum(list_transform(generate_series(1, 8),
         |      i -> (e.embedding[sb.sub*8 + i]::DOUBLE - s.sv[sb.sub*8 + i]::DOUBLE)
         |         * (e.embedding[sb.sub*8 + i]::DOUBLE - s.sv[sb.sub*8 + i]::DOUBLE))) AS d2doc,
         |    list_sum(list_transform(generate_series(1, 8),
         |      i -> (q.qv[sb.sub*8 + i]::DOUBLE - s.sv[sb.sub*8 + i]::DOUBLE)
         |         * (q.qv[sb.sub*8 + i]::DOUBLE - s.sv[sb.sub*8 + i]::DOUBLE))) AS d2q
         |  FROM embeddings e, subs sb, seeds s, q),
         |chosen AS (
         |  SELECT vec_id, sub, code, d2q FROM (
         |    SELECT vec_id, sub, code, d2q,
         |      row_number() OVER (PARTITION BY vec_id, sub
         |        ORDER BY d2doc, code) AS rn
         |    FROM cand) WHERE rn = 1)
         |SELECT vec_id,
         |  string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub) AS codes_str,
         |  round(sqrt(list_sum(list(d2q ORDER BY sub))), 6) AS dist
         |FROM chosen
         |GROUP BY vec_id
         |ORDER BY dist, vec_id LIMIT 20""".stripMargin,

    // the q_pq_adc replay composed with the residual layer: seeded cell
    // centroids -> nearest-centroid assignment -> per-row residuals ->
    // seeded residual codebooks -> per-subspace argmin codes -> per-cell
    // query-residual ADC tables -> lookup-sum distance
    "q_ivfpq_adc" ->
      s"""WITH $qvCte,
         |cseeds AS (
         |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell, sv
         |  FROM (SELECT md5('seed:' || CAST(vec_id AS VARCHAR)) AS h,
         |               vec_id, embedding AS sv
         |        FROM embeddings ORDER BY h, vec_id LIMIT 8)),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_sum(list_transform(
         |          generate_series(1, len(e.embedding)),
         |          i -> (e.embedding[i]::DOUBLE - c.sv[i]::DOUBLE)
         |             * (e.embedding[i]::DOUBLE - c.sv[i]::DOUBLE))),
         |        c.cell) AS rn
         |    FROM embeddings e, cseeds c) WHERE rn = 1),
         |resid AS (
         |  SELECT e.vec_id, a.cell,
         |    list_transform(generate_series(1, len(e.embedding)),
         |      i -> e.embedding[i]::DOUBLE - c.sv[i]::DOUBLE) AS rv
         |  FROM embeddings e
         |  JOIN asg a USING (vec_id) JOIN cseeds c ON a.cell = c.cell),
         |rseeds AS (
         |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code, rv
         |  FROM (SELECT md5('seed:' || CAST(r.vec_id AS VARCHAR)) AS h,
         |               r.vec_id AS vec_id, r.rv AS rv
         |        FROM resid r ORDER BY h, vec_id LIMIT 16)),
         |subs AS (SELECT unnest(range(0, 8)) AS sub),
         |cand AS (
         |  SELECT r.vec_id, r.cell, sb.sub, s.code,
         |    list_sum(list_transform(generate_series(1, 8),
         |      i -> (r.rv[sb.sub*8 + i] - s.rv[sb.sub*8 + i])
         |         * (r.rv[sb.sub*8 + i] - s.rv[sb.sub*8 + i]))) AS d2doc,
         |    list_sum(list_transform(generate_series(1, 8),
         |      i -> ((q.qv[sb.sub*8 + i]::DOUBLE - c.sv[sb.sub*8 + i]::DOUBLE)
         |              - s.rv[sb.sub*8 + i])
         |         * ((q.qv[sb.sub*8 + i]::DOUBLE - c.sv[sb.sub*8 + i]::DOUBLE)
         |              - s.rv[sb.sub*8 + i]))) AS d2q
         |  FROM resid r JOIN cseeds c ON r.cell = c.cell, subs sb, rseeds s, q),
         |chosen AS (
         |  SELECT vec_id, cell, sub, code, d2q FROM (
         |    SELECT vec_id, cell, sub, code, d2q,
         |      row_number() OVER (PARTITION BY vec_id, sub
         |        ORDER BY d2doc, code) AS rn
         |    FROM cand) WHERE rn = 1)
         |SELECT vec_id, cell::BIGINT AS cell,
         |  string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub) AS codes_str,
         |  round(sqrt(list_sum(list(d2q ORDER BY sub))), 6) AS dist
         |FROM chosen
         |GROUP BY vec_id, cell
         |ORDER BY dist, vec_id LIMIT 20""".stripMargin,

    "q_agg_tpch_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  count(*) AS cnt
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_topk_orders" ->
      s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
         |  o_orderpriority,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '2000-01-01 00:00:00'
         |GROUP BY l_orderkey, orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "q_join_broadcast_dims" ->
      s"""SELECT r_name, count(*) AS n_cust, ${dsumSql("c_acctbal")} AS sum_bal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_events_window" ->
      s"""SELECT ((epoch_us(ts) // 1000000) // 3600) * 3600 AS bucket_sec,
         |  event_type, count(*) AS n, ${dsumSql("value")} AS sum_value,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |GROUP BY bucket_sec, event_type
         |ORDER BY bucket_sec, event_type""".stripMargin,

    // decay weights replayed as 1<<(50-age) BIGINTs; HUGEINT sum →
    // one correctly-rounded ::DOUBLE cast (identical to Spark's
    // DECIMAL(38,0) path) and an exact /2^50 exponent shift
    "q_decayed_count" ->
      """WITH t AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us FROM events),
        |n AS (SELECT max(ts_us) AS now_us FROM t),
        |w AS (
        |  SELECT event_type,
        |    (1::BIGINT << (50 - least((now_us - ts_us) // 86400000000,
        |      50))::INT) AS w
        |  FROM t, n)
        |SELECT event_type,
        |  sum(w)::DOUBLE / 1125899906842624.0::DOUBLE AS decayed_count,
        |  count(*) AS n
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,

    // ordered funnel: min-after-previous-step via correlated step
    // tables; strict > drops same-instant steps identically on both
    // engines
    "q_funnel_steps" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |t1 AS (
        |  SELECT user_id,
        |    min(ts_us) FILTER (WHERE event_type = 'view') AS t_view
        |  FROM e GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id, min(e.ts_us) AS t_click
        |  FROM e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts_us > t1.t_view
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, min(e.ts_us) AS t_purchase
        |  FROM e JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts_us > t2.t_click
        |  GROUP BY e.user_id)
        |SELECT t1.user_id, t1.t_view, t2.t_click, t3.t_purchase,
        |  ((t1.t_view IS NOT NULL)::INT + (t2.t_click IS NOT NULL)::INT
        |    + (t3.t_purchase IS NOT NULL)::INT)::INT AS stage_reached
        |FROM t1
        |LEFT JOIN t2 USING (user_id)
        |LEFT JOIN t3 USING (user_id)
        |ORDER BY t1.user_id""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |g AS (
        |  SELECT *, ts_us - lag(ts_us) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000
        |                 THEN 1 ELSE 0 END AS new_session FROM g),
        |sn AS (
        |  SELECT *, (sum(new_session) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
        |  FROM f)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(ts_us) // 1000000 AS start_sec,
        |  max(ts_us) // 1000000 AS end_sec
        |FROM sn GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    "q_text_langid" -> langIdSql,

    "q_text_quality" ->
      s"""WITH $qualityCteSql
         |SELECT doc_id, quality FROM q ORDER BY doc_id""".stripMargin,

    // hashed linear classifier replayed exactly: the q_feature_hash
    // dim-64 embedding, weights re-derived from the shared anchor lists
    // (+1 clean / −1 junk per hash bucket), dot as an in-order list_sum,
    // trailing + 0.0 canonicalizing −0.0
    "q_quality_classifier" -> {
      val cleanL = clfCleanAnchors.map(t => s"'$t'").mkString(", ")
      val junkL = clfJunkAnchors.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> x != '') AS tk FROM documents),
         |bk AS (
         |  SELECT doc_id, list_transform(tk, t -> ${hash16Sql("t")} % 64) AS b
         |  FROM toks),
         |cnt AS (
         |  SELECT doc_id, list_transform(generate_series(0, 63),
         |    i -> len(list_filter(b, x -> x = i))::DOUBLE) AS c FROM bk),
         |n AS (
         |  SELECT doc_id, c,
         |    sqrt(list_sum(list_transform(c, x -> x * x))) AS nrm FROM cnt),
         |wt AS (
         |  SELECT j, sum(delta)::DOUBLE AS wv FROM (
         |    SELECT ${hash16Sql("t")} % 64 AS j, 1 AS delta
         |    FROM unnest([$cleanL]) u(t)
         |    UNION ALL
         |    SELECT ${hash16Sql("t")} % 64 AS j, -1 AS delta
         |    FROM unnest([$junkL]) u(t))
         |  GROUP BY j),
         |w AS MATERIALIZED (
         |  SELECT list(coalesce(wt.wv, 0.0::DOUBLE) ORDER BY g.j) AS wv
         |  FROM generate_series(0, 63) g(j) LEFT JOIN wt ON g.j = wt.j),
         |s AS (
         |  SELECT doc_id,
         |    list_sum(list_transform(generate_series(1, 64),
         |      i -> (CASE WHEN nrm > 0 THEN c[i] / nrm ELSE 0.0 END)
         |        * wv[i])) + 0.0 AS raw
         |  FROM n, w)
         |SELECT doc_id,
         |  ${graft.functions.Rounding.floorRoundSql("raw", 6)} AS clf_score,
         |  CASE WHEN ${graft.functions.Rounding.floorRoundSql("raw", 6)} > 0
         |       THEN 1 ELSE 0 END AS is_quality
         |FROM s ORDER BY doc_id""".stripMargin
    },

    // per-language percentile rank: same quality CTE, rank/count
    // windows, exact (rnk-1)/(cnt-1) ratio with the singleton pin
    "q_quality_percentile" ->
      s"""WITH $qualityCteSql,
         |r AS (
         |  SELECT d.doc_id, d.lang, q.quality,
         |    row_number() OVER (PARTITION BY d.lang
         |      ORDER BY q.quality, d.doc_id) AS rnk,
         |    count(*) OVER (PARTITION BY d.lang) AS cnt
         |  FROM q JOIN documents d USING (doc_id))
         |SELECT doc_id, lang, quality,
         |  CASE WHEN cnt = 1 THEN 1.0::DOUBLE
         |       ELSE (rnk - 1)::DOUBLE / (cnt - 1)::DOUBLE END AS pct
         |FROM r ORDER BY doc_id""".stripMargin,

    // weighted-sample replay: identical quality relation, acceptance =
    // integer hash under floor(quality · 2^16) — the q_sample_mix
    // threshold pattern with a per-ROW rate.
    "q_sample_weighted" ->
      s"""WITH $qualityCteSql
         |SELECT doc_id, quality FROM q
         |WHERE ${hash16Sql("doc_id::VARCHAR")}
         |      < floor(quality * 65536.0)::BIGINT
         |ORDER BY doc_id""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x != '')) AS n_tokens_ws,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens_alnum
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_filter(string_split_regex(lower(text), '\s+'), x -> x != ''),
        |      tk -> (strpos('0123456789abcdef', substr(md5(tk), 1, 1)) - 1) * 4096
        |          + (strpos('0123456789abcdef', substr(md5(tk), 2, 1)) - 1) * 256
        |          + (strpos('0123456789abcdef', substr(md5(tk), 3, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(md5(tk), 4, 1)) - 1)
        |    ) AS hashes
        |  FROM documents)
        |SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, hashes::BIGINT[]),
        |    (acc, h) -> (acc * 31 + h) % 1000000007) AS fp
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "q_cosine_topk" ->
      s"""WITH $qvCte
         |SELECT e.vec_id, e.label,
         |  round(
         |    list_sum(list_transform(generate_series(1, len(e.embedding)),
         |      i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
         |    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
         |     * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))),
         |  6) AS cos_sim
         |FROM embeddings e, q
         |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin,

    // mirrors Dedup.lshCandidatePairs: one md5-derived 16-bit hash per
    // shingle, then 8 affine slots (37j+101)·h + (1009j+9176) mod 1e9+7,
    // band key = (sig[2b] % 2^31-1) * 2000000011 + sig[2b+1]
    "q_dedup_minhash" ->
      s"""WITH ${lshPairsCteValved(LshMaxBucket)}
         |SELECT id1, id2 FROM pairs ORDER BY id1, id2""".stripMargin,

    // bucketed-table variant: bucketing is a physical layout, so the
    // oracle is the identical LSH replay
    "q_dedup_minhash_bucketed" ->
      s"""WITH ${lshPairsCteValved(LshMaxBucket)}
         |SELECT id1, id2 FROM pairs ORDER BY id1, id2""".stripMargin,

    // signature-only scoring: slot-agreement count over the replayed
    // 8-slot signatures; /8 is exact binary arithmetic
    "q_minhash_est" ->
      s"""WITH ${lshPairsCteValved(LshMaxBucket)}
         |SELECT p.id1, p.id2,
         |  len(list_filter(generate_series(1, 8),
         |    i -> a.sig[i] = b.sig[i]))::DOUBLE / 8.0::DOUBLE AS est_jaccard
         |FROM pairs p
         |JOIN sig a ON a.doc_id = p.id1
         |JOIN sig b ON b.doc_id = p.id2
         |ORDER BY id1, id2""".stripMargin,

    // Matryoshka funnel: 16-dim-prefix cosine top-100 (materialized),
    // exact full-dim rerank top-10 — both stages replayed exactly
    "q_knn_matryoshka" ->
      s"""WITH $qvCte,
         |cand AS MATERIALIZED (
         |  SELECT e.vec_id, e.label, e.embedding,
         |    round(
         |      list_sum(list_transform(generate_series(1, 16),
         |        i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
         |      / (sqrt(list_sum(list_transform(generate_series(1, 16),
         |           i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
         |       * sqrt(list_sum(list_transform(generate_series(1, 16),
         |           i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))),
         |    6) AS tsim
         |  FROM embeddings e, q
         |  ORDER BY tsim DESC, e.vec_id LIMIT 100)
         |SELECT c.vec_id, c.label,
         |  round(
         |    list_sum(list_transform(generate_series(1, len(c.embedding)),
         |      i -> c.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
         |    / (sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))
         |     * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))),
         |  6) AS cos_sim
         |FROM cand c, q
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    // JL replay: md5-parity signs re-derived in SQL, term list folded
    // in i order (first-element-seeded list_reduce == Spark's
    // left-assoc ± chain); ±1.0 literals ::DOUBLE (the decimal trap)
    "q_jl_project" ->
      s"""WITH signs AS (
         |  SELECT j, i,
         |    CASE WHEN ${hash16Sql(
                 "'jl:' || j::VARCHAR || ':' || i::VARCHAR")} % 2 = 0
         |      THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END AS s
         |  FROM (SELECT unnest(range(0, 8)) AS j),
         |       (SELECT unnest(range(0, 64)) AS i)),
         |terms AS (
         |  SELECT e.vec_id AS id, s.j, s.i,
         |    s.s * e.embedding[s.i + 1]::DOUBLE AS t
         |  FROM embeddings e, signs s)
         |SELECT id, j::INTEGER AS j,
         |  ${graft.functions.Rounding.floorRoundSql(
              "list_reduce(list(t ORDER BY i), (a, b) -> a + b)", 6)} AS y
         |FROM terms GROUP BY id, j""".stripMargin,

    // LSH blocking (same CTE as q_dedup_minhash) + exact Jaccard scoring
    // over 32-bit shingle hashes (same scorer as q_ngram_jaccard)
    "q_ngram_jaccard_lsh" ->
      s"""WITH ${lshPairsCteValved(LshMaxBucket)},
         |sh32 AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(sh, s -> ${hash32Sql("s")})) AS h
         |  FROM sh),
         |sc AS (
         |  SELECT p.id1, p.id2,
         |    len(list_filter(a.h, x -> list_contains(b.h, x)))::DOUBLE AS inter,
         |    (len(a.h) + len(b.h))::DOUBLE AS tot
         |  FROM pairs p
         |  JOIN sh32 a ON p.id1 = a.doc_id
         |  JOIN sh32 b ON p.id2 = b.doc_id),
         |j AS (
         |  SELECT id1, id2,
         |    ${graft.functions.Rounding.floorRoundSql("inter / (tot - inter)", 6)}
         |      AS jaccard
         |  FROM sc)
         |SELECT id1, id2, jaccard FROM j
         |WHERE jaccard >= 0.2 ORDER BY id1, id2""".stripMargin,

    // containment: distinct 32-bit shingle-hash sets, df-valved
    // inverted-index candidates (2 <= df <= 64), exact intersection via
    // the fetch-join shape, overlap = |A∩B| / min(|A|,|B|)
    "q_containment_pairs" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> x != '') AS tk FROM documents),
         |shl AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
         |    list_transform(generate_series(1, len(tk) - 2),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |    ELSE [array_to_string(tk, ' ')] END AS sh FROM toks),
         |hs AS (
         |  SELECT DISTINCT doc_id, h FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(sh, s -> ${hash32Sql("s")})) AS h
         |    FROM shl)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM hs GROUP BY doc_id),
         |good AS (SELECT h FROM hs GROUP BY h HAVING count(*) BETWEEN 2 AND 64),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM hs a JOIN good g ON a.h = g.h JOIN hs b ON b.h = a.h
         |  WHERE a.doc_id < b.doc_id),
         |inter AS (
         |  SELECT c.id1, c.id2, count(*) AS it
         |  FROM cand c
         |  JOIN hs a ON a.doc_id = c.id1
         |  JOIN hs b ON b.doc_id = c.id2 AND b.h = a.h
         |  GROUP BY c.id1, c.id2),
         |ov AS (
         |  SELECT i.id1, i.id2,
         |    ${graft.functions.Rounding.floorRoundSql(
              "it::DOUBLE / least(s1.sz, s2.sz)::DOUBLE", 6)} AS overlap
         |  FROM inter i JOIN sizes s1 ON s1.doc_id = i.id1
         |  JOIN sizes s2 ON s2.doc_id = i.id2)
         |SELECT id1, id2, overlap FROM ov
         |WHERE overlap >= 0.8::DOUBLE ORDER BY id1, id2""".stripMargin,

    // CC over the LSH pair graph: transitive closure via a recursive CTE
    // (tiny at oracle scale), component = min reachable id.
    "q_dedup_components" ->
      s"""WITH RECURSIVE ${lshPairsCteValved(LshMaxBucket)},
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION SELECT id2, id1 FROM pairs),
         |reach AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e
         |    ON r.b = e.a AND e.b <> r.a)
         |SELECT a AS id, least(a, min(b)) AS component
         |FROM reach GROUP BY a ORDER BY id""".stripMargin,

    // star-contraction must label identically to min-label CC — same SQL
    "q_dedup_components_star" ->
      s"""WITH RECURSIVE ${lshPairsCteValved(LshMaxBucket)},
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION SELECT id2, id1 FROM pairs),
         |reach AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e
         |    ON r.b = e.a AND e.b <> r.a)
         |SELECT a AS id, least(a, min(b)) AS component
         |FROM reach GROUP BY a ORDER BY id""".stripMargin,

    "q_dedup_substring" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x != '') AS tk
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) >= 10 THEN
         |      [{'start': i, 'h': array_to_string(tk[i+1:i+10], ' ')}
         |        for i in range(0, len(tk) - 9)]
         |    ELSE [] END AS shs
         |  FROM toks),
         |flat AS (
         |  SELECT doc_id, unnest(shs) AS s FROM sh),
         |f2 AS (SELECT doc_id, s.start AS start, s.h AS h FROM flat),
         |dups AS (SELECT h FROM f2 GROUP BY h HAVING count(*) > 1),
         |covered AS (
         |  SELECT doc_id, list(start) AS starts
         |  FROM f2 JOIN dups USING (h) GROUP BY doc_id),
         |k AS (
         |  SELECT t.doc_id, t.tk,
         |    list_filter(
         |      [{'p': p, 't': t.tk[p+1]} for p in range(0, len(t.tk))],
         |      x -> NOT len(list_filter(coalesce(c.starts, []),
         |        s -> s <= x.p AND x.p < s + 10)) > 0) AS kept
         |  FROM toks t LEFT JOIN covered c USING (doc_id))
         |SELECT doc_id,
         |  coalesce(array_to_string(list_transform(kept, x -> x.t), ' '),
         |    '') AS clean_text,
         |  len(kept)::BIGINT AS n_tokens_kept,
         |  (len(tk) - len(kept))::BIGINT AS n_tokens_removed
         |FROM k ORDER BY doc_id""".stripMargin,

    "q_cluster_rep" ->
      s"""WITH RECURSIVE ${lshPairsCteValved(LshMaxBucket)},
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION SELECT id2, id1 FROM pairs),
         |reach AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e
         |    ON r.b = e.a AND e.b <> r.a),
         |comp AS (
         |  SELECT a AS id, least(a, min(b)) AS component
         |  FROM reach GROUP BY a),
         |j AS (
         |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
         |    length(d.text) AS q
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         |r AS (
         |  SELECT *, first_value(doc_id) OVER (PARTITION BY component
         |      ORDER BY q DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |    AS rep_id
         |  FROM j)
         |SELECT doc_id, component, rep_id,
         |  (doc_id = rep_id)::INT AS is_rep
         |FROM r ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_filter(string_split_regex(lower(text), '\s+'), x -> x != ''),
        |      tk -> (strpos('0123456789abcdef', substr(md5(tk), 1, 1)) - 1) * 4096
        |          + (strpos('0123456789abcdef', substr(md5(tk), 2, 1)) - 1) * 256
        |          + (strpos('0123456789abcdef', substr(md5(tk), 3, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(md5(tk), 4, 1)) - 1)
        |    ) AS hashes
        |  FROM documents)
        |SELECT doc_id,
        |  coalesce(list_sum(list_transform(generate_series(0, 15), b ->
        |    CASE WHEN list_sum(list_transform(hashes, h ->
        |           CASE WHEN (floor(h / (2.0 ** b))::BIGINT % 2) = 1
        |                THEN 1 ELSE -1 END)) > 0
        |         THEN 2.0 ** b ELSE 0 END))::BIGINT, 0) AS simhash
        |FROM t ORDER BY doc_id""".stripMargin,

    // pigeonhole Hamming pair join: replay the simhash prints, split
    // into 3 blocks (widths 6/5/5 — remainder bits to the FIRST block,
    // matching Dedup.hammingPairs), bucket self-join per block with the
    // 512 valve, exact bit_count(xor) <= 2 filter. `%`/`//`/xor match
    // Spark shiftright/bitwiseAND/XOR for nonnegative 16-bit prints.
    "q_simhash_pairs" -> simhashPairsOracleSql,

    // every valve's exclusion frame replayed at the declared params —
    // lsh bands (>64), jaccard (lang, source) blocks (>512), hamming
    // (bi, bv) buckets (>512), containment shingle dfs (>64), fuzzy
    // 16-char name-prefix blocks (>512), percolation rules whose rarest
    // routing term exceeds df 4000
    "q_valve_audit" ->
      s"""WITH $lshBandsCte,
         |lshov AS (
         |  SELECT 'lsh_bucket' AS valve,
         |    band_idx::VARCHAR || ':' || band_key::VARCHAR AS bucket,
         |    count(*)::BIGINT AS n
         |  FROM bands GROUP BY band_idx, band_key HAVING count(*) > 64),
         |jacov AS (
         |  SELECT 'jaccard_block' AS valve,
         |    coalesce(lang, '') || ':' || coalesce(source, '') AS bucket,
         |    count(*)::BIGINT AS n
         |  FROM documents GROUP BY lang, source HAVING count(*) > 512),
         |jactov AS (
         |  SELECT 'jaccard_block_tight' AS valve,
         |    coalesce(lang, '') || ':' || coalesce(source, '') AS bucket,
         |    count(*)::BIGINT AS n
         |  FROM documents GROUP BY lang, source HAVING count(*) > 8),
         |hamh AS (
         |  SELECT doc_id,
         |    list_transform(
         |      list_filter(string_split_regex(lower(text), '\\s+'),
         |        x -> x != ''), tk -> ${hash16Sql("tk")}) AS hashes
         |  FROM documents),
         |hamf AS (
         |  SELECT doc_id,
         |    coalesce(list_sum(list_transform(generate_series(0, 15), b ->
         |      CASE WHEN list_sum(list_transform(hashes, h ->
         |             CASE WHEN (floor(h / (2.0 ** b))::BIGINT % 2) = 1
         |                  THEN 1 ELSE -1 END)) > 0
         |           THEN 2.0 ** b ELSE 0 END))::BIGINT, 0) AS fp
         |  FROM hamh),
         |hamb AS (
         |  SELECT doc_id, bi,
         |    CASE bi WHEN 0 THEN fp % 64
         |            WHEN 1 THEN (fp // 64) % 32
         |            ELSE (fp // 2048) % 32 END AS bv
         |  FROM hamf CROSS JOIN (SELECT unnest([0, 1, 2]) AS bi) u),
         |hamov AS (
         |  SELECT 'hamming_bucket' AS valve,
         |    bi::VARCHAR || ':' || bv::VARCHAR AS bucket,
         |    count(*)::BIGINT AS n
         |  FROM hamb GROUP BY bi, bv HAVING count(*) > 512),
         |cshl AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
         |    list_transform(generate_series(1, len(tk) - 2),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |    ELSE [array_to_string(tk, ' ')] END AS sh
         |  FROM toks),
         |chs AS (
         |  SELECT DISTINCT doc_id, h FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(sh, s -> ${hash32Sql("s")})) AS h
         |    FROM cshl)),
         |contov AS (
         |  SELECT 'containment_shingle' AS valve, h::VARCHAR AS bucket,
         |    count(*)::BIGINT AS n
         |  FROM chs GROUP BY h HAVING count(*) > 64),
         |fzov AS (
         |  SELECT 'fuzzy_block' AS valve, substr(c_name, 1, 16) AS bucket,
         |    count(*)::BIGINT AS n
         |  FROM customer GROUP BY 2 HAVING count(*) > 512),
         |pdt AS (
         |  SELECT DISTINCT doc_id, term FROM (
         |    SELECT doc_id, unnest(list_filter(
         |      string_split_regex(lower(text), '\\s+'), x -> x != '')) AS term
         |    FROM documents)),
         |pqt AS (
         |  SELECT * FROM (VALUES
         |    (1, 'join', 2), (1, 'filter', 2),
         |    (2, 'window', 2), (2, 'scan', 2),
         |    (3, 'hash', 3), (3, 'merge', 3), (3, 'sort', 3),
         |    (4, 'vector', 1)) v(query_id, term, n_terms)),
         |pdf AS (SELECT term, count(*) AS df FROM pdt GROUP BY term),
         |prt AS (
         |  SELECT query_id, term, df FROM (
         |    SELECT q.query_id, q.term, coalesce(f.df, 0) AS df,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY coalesce(f.df, 0), q.term) AS rn
         |    FROM pqt q LEFT JOIN pdf f USING (term))
         |  WHERE rn = 1),
         |percov AS (
         |  SELECT 'percolate_rule' AS valve,
         |    query_id::VARCHAR || ':' || term AS bucket, df::BIGINT AS n
         |  FROM prt WHERE df > 4000)
         |SELECT valve, bucket, n FROM (
         |  SELECT * FROM lshov UNION ALL SELECT * FROM jacov
         |  UNION ALL SELECT * FROM jactov
         |  UNION ALL SELECT * FROM hamov UNION ALL SELECT * FROM contov
         |  UNION ALL SELECT * FROM fzov UNION ALL SELECT * FROM percov)
         |ORDER BY valve, bucket""".stripMargin,

    // bucketing is a physical layout, so the oracle is identical
    "q_simhash_pairs_bucketed" -> simhashPairsOracleSql,


    "q_boilerplate_shingles" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> x != '') AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
         |    list_transform(generate_series(1, len(tk) - 2),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |  ELSE [array_to_string(tk, ' ')] END AS g FROM toks),
         |sh AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(g, s -> ${hash32Sql("s")})) AS sh
         |  FROM grams),
         |ex AS (SELECT doc_id, unnest(sh) AS sh FROM sh)
         |SELECT sh, count(*) AS n_docs FROM ex
         |GROUP BY sh HAVING count(*) >= 5 ORDER BY sh""".stripMargin,

    "q_winnow_fingerprint" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> x != '') AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
         |    list_transform(generate_series(1, len(tk) - 2),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |  ELSE [array_to_string(tk, ' ')] END AS g FROM toks),
         |hv AS (
         |  SELECT doc_id, list_transform(g, s -> ${hashNSql("s", 4)}) AS hv
         |  FROM grams),
         |wins AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, greatest(len(hv) - 3, 1)),
         |      i -> list_aggregate(hv[i:least(i + 3, len(hv))], 'min')) AS w
         |  FROM hv),
         |ex AS (SELECT doc_id, unnest(w) AS fp FROM wins)
         |SELECT DISTINCT doc_id, fp FROM ex ORDER BY doc_id, fp""".stripMargin,

    "q_text_repetition" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> x != '') AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
         |    list_transform(generate_series(1, len(tk) - 2),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |  ELSE [array_to_string(tk, ' ')] END AS g FROM toks),
         |h AS (
         |  SELECT doc_id, list_transform(g, s -> ${hash32Sql("s")}) AS sh
         |  FROM grams)
         |SELECT doc_id, len(sh) AS n_grams,
         |  ${graft.functions.Rounding.floorRoundSql(
              "1.0 - len(list_distinct(sh))::DOUBLE / len(sh)::DOUBLE", 6)}
         |    AS rep_ratio
         |FROM h ORDER BY doc_id""".stripMargin,

    // integer-arithmetic rule flags — the shingle-hash CTE is the
    // q_text_repetition replay, counts cross-multiplied so no float
    // ratio crosses a threshold
    "q_gopher_rules" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> x != '') AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
         |    list_transform(generate_series(1, len(tk) - 2),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |  ELSE [array_to_string(tk, ' ')] END AS g FROM toks),
         |h AS (
         |  SELECT doc_id, list_transform(g, s -> ${hash32Sql("s")}) AS sh
         |  FROM grams),
         |m AS (
         |  SELECT t.doc_id,
         |    len(t.tk)::BIGINT AS n_words,
         |    coalesce(list_sum(list_transform(t.tk, w -> length(w))),
         |      0)::BIGINT AS n_chars,
         |    len(list_filter(t.tk, w -> list_contains(
         |      [${QualityRules.stopWords.map(w => s"'$w'").mkString(", ")}],
         |      w)))::BIGINT AS n_stop,
         |    len(h.sh)::BIGINT AS n_grams,
         |    (len(h.sh) - len(list_distinct(h.sh)))::BIGINT AS n_dup_grams
         |  FROM toks t JOIN h USING (doc_id)),
         |flags AS (
         |  SELECT doc_id, n_words, n_chars, n_stop, n_grams, n_dup_grams,
         |    (CASE WHEN n_words >= 30 AND n_words <= 10000
         |      THEN 1 ELSE 0 END)::INT AS flag_words,
         |    (CASE WHEN n_chars >= 3 * n_words AND n_chars <= 10 * n_words
         |      THEN 1 ELSE 0 END)::INT AS flag_mean_len,
         |    (CASE WHEN 100 * n_stop >= 3 * n_words
         |      THEN 1 ELSE 0 END)::INT AS flag_stop,
         |    (CASE WHEN 5 * n_grams >= 100 * n_dup_grams
         |      THEN 1 ELSE 0 END)::INT AS flag_rep
         |  FROM m)
         |SELECT doc_id, n_words, n_chars, n_stop, n_grams, n_dup_grams,
         |  flag_words, flag_mean_len, flag_stop, flag_rep,
         |  flag_words * flag_mean_len * flag_stop * flag_rep AS keep
         |FROM flags ORDER BY doc_id""".stripMargin,

    // repetition suite: raw-gram grouping replays the hashed (doc,n,gh)
    // counts; fractions are exact int/int double divisions (unrounded);
    // DuckDB positions are 1-based where Spark's are 0-based — coverage
    // math is base-consistent within each engine
    "q_gopher_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x != '') AS tk FROM documents),
        |-- lead-window shingling (the Spark side's form): the previous
        |-- unnest carried the WHOLE tk array once per position — ~1.6B
        |-- in-flight list elements at sf10, untracked by memory_limit
        |-- (three 130-GB oom-kills); per-token rows + lead() are linear
        |ex AS (
        |  SELECT doc_id, unnest(tk) AS tok,
        |    unnest(generate_series(1, len(tk))) AS p
        |  FROM toks),
        |w AS (
        |  SELECT doc_id, p, tok,
        |    lead(tok, 1) OVER win AS tok1,
        |    lead(tok, 2) OVER win AS tok2,
        |    lead(tok, 3) OVER win AS tok3,
        |    lead(tok, 4) OVER win AS tok4
        |  FROM ex WINDOW win AS (PARTITION BY doc_id ORDER BY p)),
        |grams AS (
        |  SELECT doc_id, p, n,
        |    CASE n WHEN 1 THEN tok WHEN 2 THEN tok || ' ' || tok1
        |      WHEN 3 THEN tok || ' ' || tok1 || ' ' || tok2
        |      ELSE tok || ' ' || tok1 || ' ' || tok2 || ' ' || tok3 ||
        |        ' ' || tok4 END AS g,
        |    (CASE n WHEN 1 THEN len(tok) WHEN 2 THEN len(tok) + len(tok1)
        |      WHEN 3 THEN len(tok) + len(tok1) + len(tok2)
        |      ELSE len(tok) + len(tok1) + len(tok2) + len(tok3) +
        |        len(tok4) END)::BIGINT AS glen
        |  FROM w, (VALUES (1),(2),(3),(5)) ns(n)
        |  WHERE CASE n WHEN 1 THEN TRUE WHEN 2 THEN tok1 IS NOT NULL
        |    WHEN 3 THEN tok2 IS NOT NULL ELSE tok4 IS NOT NULL END),
        |-- no list() aggregate states anywhere: DuckDB hash-agg list
        |-- states do not spill and drove the replay to 130 GB; the
        |-- dup-5-gram coverage is a positions JOIN instead (a covered
        |-- position is one within [s, s+4] of ANY >=2-count 5-gram
        |-- start s — DISTINCT before summing, same set as the old
        |-- per-position list_filter)
        |pg AS (
        |  SELECT doc_id, n, g, count(*)::BIGINT AS c, max(glen) AS glen
        |  FROM grams GROUP BY doc_id, n, g),
        |pd0 AS (
        |  -- most frequent gram, count ties broken by max glen. The
        |  -- lexicographic (c, glen) max rides ONE BIGINT (c·2^31 +
        |  -- glen; exact while glen < 2^31 — glen is a per-doc char sum,
        |  -- orders of magnitude below): a STRUCT-typed max agg state
        |  -- heap-allocates per update untracked by memory_limit — the
        |  -- last of the replay's three 130-GB allocation sites
        |  SELECT doc_id,
        |    (sum(CASE WHEN n = 1 THEN c * glen END))::BIGINT AS total_chars,
        |    max(CASE WHEN n = 2 THEN c * 2147483648 + glen END) AS m2,
        |    max(CASE WHEN n = 3 THEN c * 2147483648 + glen END) AS m3
        |  FROM pg GROUP BY doc_id),
        |pd AS (
        |  SELECT doc_id, total_chars,
        |    (m2 // 2147483648) * (m2 % 2147483648) AS top2,
        |    (m3 // 2147483648) * (m3 % 2147483648) AS top3
        |  FROM pd0),
        |g5 AS (
        |  SELECT doc_id, g FROM grams WHERE n = 5
        |  GROUP BY doc_id, g HAVING count(*) >= 2),
        |starts AS (
        |  SELECT gr.doc_id, gr.p FROM grams gr
        |  JOIN g5 ON gr.doc_id = g5.doc_id AND gr.g = g5.g
        |  WHERE gr.n = 5),
        |covered AS (
        |  SELECT DISTINCT e.doc_id, e.p, len(e.tok) AS toklen
        |  FROM ex e JOIN starts s
        |    ON e.doc_id = s.doc_id AND e.p >= s.p AND e.p < s.p + 5),
        |cov AS (
        |  SELECT doc_id, sum(toklen)::BIGINT AS covchars
        |  FROM covered GROUP BY doc_id)
        |SELECT pd.doc_id,
        |  pd.total_chars AS n_token_chars,
        |  coalesce(pd.top2::DOUBLE / pd.total_chars::DOUBLE,
        |    0.0::DOUBLE) AS top_2gram_char_frac,
        |  coalesce(pd.top3::DOUBLE / pd.total_chars::DOUBLE,
        |    0.0::DOUBLE) AS top_3gram_char_frac,
        |  coalesce(cov.covchars, 0)::DOUBLE / pd.total_chars::DOUBLE
        |    AS dup_5gram_char_frac
        |FROM pd LEFT JOIN cov USING (doc_id)""".stripMargin,
    // ^ deliberately NO final ORDER BY: the checkers sort rows before
    // comparing, and a trailing ORDER BY flips DuckDB's plan from
    // streaming to full materialization — measured 10.8 GB / 29 s
    // without it vs five 130-GB oom-kills with it at sf10 (the
    // order-by-materialization trap; profile in BASELINE.md r13)

    // C4 cleanse replay: the synthesized page, the line-retention
    // list_filter, and the page-drop CASE mirror the Spark higher-order
    // projection predicate-for-predicate (right(l,1) on both engines so
    // empty lines compare equal; list slices are 1-based inclusive =
    // slice(tk, from, n))
    "q_c4_filters" ->
      (s"WITH $c4PageCtes,\n" +
      s"""k AS (
         |  SELECT doc_id, page, string_split(page, chr(10)) AS ls,
         |    list_filter(string_split(page, chr(10)), l ->
         |      right(l, 1) IN ('.', '!', '?', '"')
         |      AND len(list_filter(string_split_regex(lower(l), '\\s+'),
         |              x -> x != '')) >= 3
         |      AND NOT contains(lower(l), 'javascript')) AS kept
         |  FROM pg),
         |c AS (
         |  SELECT doc_id, len(ls) AS n_lines, len(kept) AS n_kept_lines,
         |    CASE WHEN NOT (contains(lower(page), 'lorem ipsum')
         |                   OR contains(lower(page), '{'))
         |          AND len(kept) >= 5
         |         THEN array_to_string(kept, chr(10)) END AS clean
         |  FROM k)
         |SELECT doc_id, n_lines, n_kept_lines,
         |  clean IS NOT NULL AS page_kept,
         |  length(clean) AS clean_len, md5(clean) AS clean_md5
         |FROM c ORDER BY doc_id""".stripMargin),

    // line dedup: the oracle groups RAW lines (the raw-shingle pattern —
    // a Spark-side xxhash64 collision would surface as a mismatch);
    // rebuild via position-ordered string_agg, NULL-skipping on the
    // flagged lines exactly like the filtered-array rebuild
    "q_dedup_lines" ->
      """WITH lined AS (
        |  SELECT doc_id,
        |    'about the ' || source || ' network' || chr(10) || text ||
        |    chr(10) || 'all rights reserved ' || lang AS lt
        |  FROM documents),
        |lsx AS (SELECT doc_id, string_split(lt, chr(10)) AS ls FROM lined),
        |lx AS (
        |  SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS pos
        |  FROM lsx),
        |l2 AS (SELECT doc_id, pos, ls[pos] AS line FROM lx),
        |dup AS (
        |  SELECT line FROM l2 GROUP BY line
        |  HAVING count(DISTINCT doc_id) >= 2),
        |j AS (
        |  SELECT l2.doc_id, l2.pos, l2.line, (dup.line IS NOT NULL) AS d
        |  FROM l2 LEFT JOIN dup ON l2.line = dup.line)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN NOT d THEN line END, chr(10)
        |    ORDER BY pos), '') AS clean_text,
        |  (count(*) FILTER (WHERE NOT d))::BIGINT AS n_lines_kept,
        |  (count(*) FILTER (WHERE d))::BIGINT AS n_lines_removed
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_decontaminate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> x != '') AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
         |    list_transform(generate_series(1, len(tk) - 2),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |  ELSE [array_to_string(tk, ' ')] END AS g FROM toks),
         |sh AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(g, s -> ${hash32Sql("s")})) AS sh
         |  FROM grams),
         |ex AS (SELECT doc_id, unnest(sh) AS sh FROM sh),
         |bsh AS (SELECT DISTINCT sh FROM ex WHERE doc_id % 97 = 0)
         |SELECT DISTINCT e.doc_id AS doc_id FROM ex e
         |JOIN bsh ON e.sh = bsh.sh
         |WHERE e.doc_id % 97 <> 0 ORDER BY doc_id""".stripMargin,

    // the q_decontaminate replay graded: LEFT join against the heldout
    // gram set, per-doc hit fraction as exact int/int IEEE division
    "q_contamination_frac" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> x != '') AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
         |    list_transform(generate_series(1, len(tk) - 2),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |  ELSE [array_to_string(tk, ' ')] END AS g FROM toks),
         |sh AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(g, s -> ${hash32Sql("s")})) AS sh
         |  FROM grams),
         |ex AS (SELECT doc_id, unnest(sh) AS sh FROM sh),
         |bsh AS (SELECT DISTINCT sh FROM ex WHERE doc_id % 97 = 0)
         |SELECT e.doc_id, count(*)::BIGINT AS n_grams,
         |  count(b.sh)::BIGINT AS hit_grams,
         |  count(b.sh)::DOUBLE / count(*)::DOUBLE AS contam_frac
         |FROM ex e LEFT JOIN bsh b ON e.sh = b.sh
         |WHERE e.doc_id % 97 <> 0
         |GROUP BY e.doc_id
         |ORDER BY doc_id""".stripMargin,

    // the q_dedup_substring replay with the bad-span set sourced from
    // the heldout slice (doc_id % 97 = 0) instead of self-counts; the
    // oracle groups raw shingle strings where Spark hashes (the
    // internal-xxhash64 rule)
    "q_decontaminate_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x != '') AS tk
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) >= 10 THEN
         |      [{'start': i, 'h': array_to_string(tk[i+1:i+10], ' ')}
         |        for i in range(0, len(tk) - 9)]
         |    ELSE [] END AS shs
         |  FROM toks),
         |flat AS (
         |  SELECT doc_id, unnest(shs) AS s FROM sh),
         |f2 AS (SELECT doc_id, s.start AS start, s.h AS h FROM flat),
         |bad AS (SELECT DISTINCT h FROM f2 WHERE doc_id % 97 = 0),
         |covered AS (
         |  SELECT doc_id, list(start) AS starts
         |  FROM f2 JOIN bad USING (h)
         |  WHERE doc_id % 97 <> 0 GROUP BY doc_id),
         |k AS (
         |  SELECT t.doc_id, t.tk,
         |    list_filter(
         |      [{'p': p, 't': t.tk[p+1]} for p in range(0, len(t.tk))],
         |      x -> NOT len(list_filter(coalesce(c.starts, []),
         |        s -> s <= x.p AND x.p < s + 10)) > 0) AS kept
         |  FROM toks t LEFT JOIN covered c USING (doc_id)
         |  WHERE t.doc_id % 97 <> 0)
         |SELECT doc_id,
         |  coalesce(array_to_string(list_transform(kept, x -> x.t), ' '),
         |    '') AS clean_text,
         |  len(kept)::BIGINT AS n_tokens_kept,
         |  (len(tk) - len(kept))::BIGINT AS n_tokens_removed
         |FROM k ORDER BY doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, source,
         |    list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x != '') AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id, lang, source,
         |    CASE WHEN len(tk) >= 3 THEN
         |      list_transform(generate_series(1, len(tk) - 2),
         |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |    ELSE [array_to_string(tk, ' ')] END AS g FROM toks),
         |sh AS (
         |  SELECT doc_id, lang, source,
         |    list_distinct(list_transform(g, s -> ${hash32Sql("s")})) AS sh
         |  FROM grams),
         |ok_blocks AS (
         |  SELECT lang, source FROM documents
         |  GROUP BY lang, source HAVING count(*) <= 512),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    len(list_filter(a.sh, x -> list_contains(b.sh, x)))::DOUBLE AS inter,
         |    (len(a.sh) + len(b.sh))::DOUBLE AS tot
         |  FROM sh a JOIN sh b
         |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         |  JOIN ok_blocks ob ON a.lang = ob.lang AND a.source = ob.source),
         |j AS (
         |  SELECT id1, id2,
         |    ${graft.functions.Rounding.floorRoundSql("inter / (tot - inter)", 6)}
         |      AS jaccard
         |  FROM pairs)
         |SELECT id1, id2, jaccard FROM j
         |WHERE jaccard >= 0.2 ORDER BY id1, id2""".stripMargin,

    // native float path replayed (normalize each element FIRST, cos =
    // 1 − Σ(âᵢ−b̂ᵢ)²/2 — the squared-L2 recipe, no sqrt detour), label
    // blocks, pair output
    "q_embed_neardup" -> {
      val cosSql = graft.functions.Rounding.floorRoundSql(
        """1.0 - list_sum(list_transform(generate_series(1, len(a.embedding)),
          |      i -> (a.embedding[i]::DOUBLE / a.nrm - b.embedding[i]::DOUBLE / b.nrm)
          |         * (a.embedding[i]::DOUBLE / a.nrm - b.embedding[i]::DOUBLE / b.nrm))) / 2""".stripMargin, 6)
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      t -> t::DOUBLE * t::DOUBLE))) AS nrm
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |p AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2, $cosSql AS cos
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT id1, id2, cos FROM p WHERE cos >= 0.25
         |ORDER BY id1, id2""".stripMargin
    },

    // exhaustive semantic dedup: all-pairs normalized cosine via the
    // SAME float path as the Spark kernel (normalize each element FIRST,
    // cos = 1 − Σ(âᵢ−b̂ᵢ)²/2 — the squared-L2 recipe, no sqrt detour),
    // survivors = sample ids never the higher id of a ≥-threshold pair.
    // Replay shape (round-13 verdict item 4 — the last open sf10 cell):
    // normalize ONCE per row into `ne` (the division x.embedding[i]::
    // DOUBLE / nrm happens there, so ne[i] carries bit-identical doubles
    // to the per-pair form), then gate the interpreted exact fold behind
    // a NATIVE list_inner_product prefilter. The prefilter is
    // mathematically safe, not approximate: a pair the Spark side keeps
    // has floorRound(1 − Σd²/2, 6) ≥ 0.25 ⇒ the float value ≥ 0.25, and
    // dot(ne1, ne2) differs from 1 − Σd²/2 only by double rounding
    // (≤ ~1e-12 over 64 elements), so dot ≥ 0.2499 catches every such
    // pair with six orders of magnitude of margin — pairs skipped by the
    // prefilter can never floor-round over the threshold. The exact
    // interpreted replay (unchanged float path) then scores candidates
    // only. Measured: sf1 24.3 s → 1.2 s, sf10 ~4.4 h (extrapolated
    // interpreted all-pairs) → 96 s, identical survivor sets at
    // sf0.01/sf0.1/sf1 (BASELINE.md round 14).
    "q_semantic_dedup_exhaustive" -> {
      val cosSql = graft.functions.Rounding.floorRoundSql(
        """1.0 - list_sum(list_transform(generate_series(1, len(ne1)),
          |      i -> (ne1[i] - ne2[i]) * (ne1[i] - ne2[i]))) / 2""".stripMargin, 6)
      s"""WITH n AS (
         |  SELECT vec_id,
         |    list_transform(embedding, t -> t::DOUBLE) AS de,
         |    sqrt(list_sum(list_transform(embedding,
         |      t -> t::DOUBLE * t::DOUBLE))) AS nrm
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |e AS (
         |  SELECT vec_id, list_transform(de, t -> t / nrm) AS ne FROM n),
         |cand AS (
         |  SELECT x.vec_id AS id1, y.vec_id AS id2, x.ne AS ne1, y.ne AS ne2
         |  FROM e x JOIN e y ON x.vec_id < y.vec_id
         |  WHERE list_inner_product(x.ne, y.ne) >= 0.2499),
         |drops AS (
         |  SELECT DISTINCT id2 AS drop_id
         |  FROM cand
         |  WHERE $cosSql >= 0.25)
         |SELECT vec_id FROM e
         |WHERE vec_id NOT IN (SELECT drop_id FROM drops)
         |ORDER BY vec_id""".stripMargin
    },

    // hyperplane-LSH near-dup recomputed from scratch: the ±1 plane
    // components come from md5('plane:p:i') first-hex-digit (the
    // Dedup.hyperplaneSigns rule), each signature bit is the sign of the
    // same left-to-right (x−0.5)·±1 multiply-add fold Spark runs, bands
    // are bit-string keys, candidates are bucket pairs, and the exact
    // cosine scores candidates only.
    "q_embed_neardup_lsh" -> {
      def dotSql(p: Int) =
        s"""list_sum(list_transform(generate_series(1, len(e.embedding)),
           |      i -> (e.embedding[i]::DOUBLE - 0.5)
           |         * (CASE WHEN substr(md5('plane:$p:' || CAST(i AS VARCHAR)), 1, 1) <= '7'
           |            THEN 1.0 ELSE -1.0 END)))""".stripMargin
      val bitCols = (0 until 20).map(p =>
        s"(CASE WHEN ${dotSql(p)} >= 0 THEN 1 ELSE 0 END) AS b$p")
        .mkString(",\n  ")
      val key0 = (0 until 10).map(p => s"CAST(b$p AS VARCHAR)").mkString(" || ")
      val key1 = (10 until 20).map(p => s"CAST(b$p AS VARCHAR)").mkString(" || ")
      // cos = 1 − ‖â−b̂‖²/2 with normalize-FIRST per element — the exact
      // float path of the Spark side's l2SqNative over pre-normalized
      // rows (sqrt-then-square is not an IEEE identity, so the squared
      // kernel is what makes this hash-matchable)
      val cosSql = graft.functions.Rounding.floorRoundSql(
        """1.0 - list_sum(list_transform(generate_series(1, len(x.embedding)),
          |      i -> (x.embedding[i]::DOUBLE / x.nrm - y.embedding[i]::DOUBLE / y.nrm)
          |         * (x.embedding[i]::DOUBLE / x.nrm - y.embedding[i]::DOUBLE / y.nrm))) / 2""".stripMargin, 6)
      s"""WITH sig AS (
         |  SELECT vec_id,
         |  $bitCols
         |  FROM embeddings e),
         |bands AS (
         |  SELECT vec_id, 0 AS band_idx, $key0 AS band_key FROM sig
         |  UNION ALL
         |  SELECT vec_id, 1 AS band_idx, $key1 AS band_key FROM sig),
         |keep AS (
         |  SELECT band_idx, band_key FROM bands
         |  GROUP BY band_idx, band_key
         |  HAVING count(*) <= 1024),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
         |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx
         |    AND a.band_key = b.band_key AND a.vec_id < b.vec_id
         |  JOIN keep k ON a.band_idx = k.band_idx
         |    AND a.band_key = k.band_key),
         |ex AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      t -> t::DOUBLE * t::DOUBLE))) AS nrm
         |  FROM embeddings),
         |scored AS (
         |  SELECT c.id1, c.id2, $cosSql AS cos
         |  FROM cand c
         |  JOIN ex x ON c.id1 = x.vec_id
         |  JOIN ex y ON c.id2 = y.vec_id)
         |SELECT id1, id2, cos FROM scored WHERE cos >= 0.25
         |ORDER BY id1, id2""".stripMargin
    },

    // binary sketch replay: the 64 hyperplane bits from the same
    // md5-plane fold, packed into two 32-bit halves by a *2+b fold
    // (list_reduce's first-element seed equals the 0 seed here), then
    // Hamming top-50 and the exact cosine rerank
    "q_knn_binary" -> {
      def dotSql(p: Int) =
        s"""list_sum(list_transform(generate_series(1, len(e.embedding)),
           |      i -> (e.embedding[i]::DOUBLE - 0.5)
           |         * (CASE WHEN substr(md5('plane:$p:' || CAST(i AS VARCHAR)), 1, 1) <= '7'
           |            THEN 1.0 ELSE -1.0 END)))""".stripMargin
      val bitCols = (0 until 64).map(p =>
        s"(CASE WHEN ${dotSql(p)} >= 0 THEN 1 ELSE 0 END) AS b$p")
        .mkString(",\n  ")
      val hiList = (0 until 32).map(p => s"b$p::BIGINT")
        .mkString("[", ", ", "]")
      val loList = (32 until 64).map(p => s"b$p::BIGINT")
        .mkString("[", ", ", "]")
      s"""WITH bitsrc AS MATERIALIZED (
         |  SELECT vec_id, label,
         |  $bitCols
         |  FROM embeddings e),
         |sig AS MATERIALIZED (
         |  SELECT vec_id, label,
         |    list_reduce($hiList, (a, b) -> a * 2 + b) AS hi,
         |    list_reduce($loList, (a, b) -> a * 2 + b) AS lo
         |  FROM bitsrc),
         |sq AS (SELECT hi AS qhi, lo AS qlo FROM sig WHERE vec_id = 0),
         |cand AS MATERIALIZED (
         |  SELECT s.vec_id, s.label,
         |    bit_count(xor(s.hi, sq.qhi)) + bit_count(xor(s.lo, sq.qlo))
         |      AS hamming
         |  FROM sig s, sq
         |  ORDER BY hamming, s.vec_id LIMIT 50),
         |$qvCte
         |SELECT c.vec_id, c.label,
         |  round(
         |    list_sum(list_transform(generate_series(1, len(e.embedding)),
         |      i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
         |    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
         |     * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))),
         |  6) AS cos_sim
         |FROM cand c JOIN embeddings e USING (vec_id), q
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
    },

    "q_json_extract" ->
      """SELECT event_type,
        |  json_extract(props, '$.k')::BIGINT // 10 AS k_decile,
        |  count(*) AS n,
        |  sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_moving_avg" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n,
        |  (sum(n) OVER w)::BIGINT AS mov_sum,
        |  (sum(n) OVER w)::DOUBLE / (count(*) OVER w)::DOUBLE AS mov_avg
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,

    "q_anomaly_days" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |med AS (
        |  SELECT event_type, n AS med FROM (
        |    SELECT event_type, n, day,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY n, day) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS cnt
        |    FROM daily)
        |  WHERE rn = (cnt + 1) // 2),
        |dev AS (
        |  SELECT d.event_type, d.day, d.n, m.med,
        |    abs(d.n - m.med) AS dev
        |  FROM daily d JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, dev AS mad FROM (
        |    SELECT event_type, dev, day,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY dev, day) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS cnt
        |    FROM dev)
        |  WHERE rn = (cnt + 1) // 2)
        |SELECT d.event_type, d.day, d.n, d.med, a.mad,
        |  (d.dev > 3 * a.mad)::INT AS is_anomaly
        |FROM dev d JOIN mad a USING (event_type)
        |ORDER BY event_type, day""".stripMargin,

    "q_cohort_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cw FROM uw GROUP BY user_id)
        |SELECT cw AS cohort_week, wk - cw AS week_offset,
        |  count(DISTINCT user_id) AS n_users
        |FROM uw JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_feature_hash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> x != '') AS tk FROM documents),
         |bk AS (
         |  SELECT doc_id, list_transform(tk, t -> ${hash16Sql("t")} % 8) AS b
         |  FROM toks),
         |cnt AS (
         |  SELECT doc_id, list_transform(generate_series(0, 7),
         |    i -> len(list_filter(b, x -> x = i))::DOUBLE) AS c FROM bk),
         |n AS (
         |  SELECT doc_id, c,
         |    sqrt(list_sum(list_transform(c, x -> x * x))) AS nrm FROM cnt)
         |SELECT doc_id, g AS pos,
         |  ${graft.functions.Rounding.floorRoundSql(
              "CASE WHEN nrm > 0 THEN c[g+1] / nrm ELSE 0.0 END", 6)} AS v
         |FROM n, generate_series(0, 7) t(g)
         |ORDER BY doc_id, pos""".stripMargin,

    "q_sample_hash" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${hash16Sql("doc_id::VARCHAR")} < 16384
         |ORDER BY doc_id""".stripMargin,

    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY doc_id""".stripMargin,

    "q_join_semi" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_left_outer" ->
      """SELECT n_name, coalesce(n_cust, 0) AS n_cust
        |FROM nation LEFT JOIN (
        |  SELECT c_nationkey, count(*) AS n_cust FROM customer
        |  GROUP BY c_nationkey) c ON n_nationkey = c_nationkey
        |ORDER BY n_name""".stripMargin,

    "q_agg_rollup" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rflag,
         |  coalesce(l_linestatus, 'ALL') AS lstatus,
         |  count(*) AS cnt, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY rflag, lstatus""".stripMargin,

    "q_date_trunc" ->
      s"""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         |  count(*) AS n_orders, ${dsumSql("o_totalprice")} AS sum_price
         |FROM orders GROUP BY month ORDER BY month""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderstatus,
        |  count(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
        |  count(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
        |  count(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
        |  count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
        |  count(*) FILTER (o_orderpriority = '5-LOW') AS p5
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q_set_intersect" ->
      """SELECT doc_id FROM documents WHERE lang = 'en'
        |INTERSECT
        |SELECT doc_id FROM documents WHERE source = 'src3'
        |ORDER BY doc_id""".stripMargin,

    "q_set_except" ->
      """SELECT doc_id FROM documents WHERE lang = 'en'
        |EXCEPT
        |SELECT doc_id FROM documents WHERE source = 'src3'
        |ORDER BY doc_id""".stripMargin,

    "q_text_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+',
        |      '<EMAIL>', 'g'),
        |    '[0-9]{3,}', '<NUM>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_sql_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q_sql_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT 0.99 * max(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q_sql_window_cte" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice
        |FROM ranked WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q_clean_pipeline" ->
      (s"WITH $cleanPipelineCtes\n" +
        """SELECT doc_id, pred_lang, quality FROM kept
          |WHERE doc_id NOT IN (SELECT did FROM drops)
          |ORDER BY doc_id""".stripMargin),

    // near-dup stage = KEEP-BEST survivorship: connected components
    // over the band-collision pairs (recursive closure, the
    // q_cluster_rep oracle pattern), representative = quality-argmax
    // with the smaller-id tiebreak
    "q_curation_funnel" ->
      (s"WITH RECURSIVE $cleanPipelineCtes,\n" +
        s"$ndSurvivorCtes,\n" +
        """
          |rb AS (
          |  SELECT doc_id, row_number() OVER (PARTITION BY pred_lang
          |      ORDER BY quality DESC, doc_id) AS rnk,
          |    count(*) OVER (PARTITION BY pred_lang) AS n
          |  FROM nd),
          |fin AS (SELECT doc_id FROM rb WHERE rnk * 3 <= n * 2),
          |tl AS (SELECT doc_id, len(toks)::BIGINT AS ntok FROM toks0)
          |SELECT * FROM (
          |  SELECT 0 AS stage_idx, 'raw' AS stage,
          |    count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS n_tokens
          |  FROM tl
          |  UNION ALL SELECT 1, 'lang_quality', count(*)::BIGINT,
          |    sum(ntok)::BIGINT FROM f JOIN tl USING (doc_id)
          |  UNION ALL SELECT 2, 'exact_dedup', count(*)::BIGINT,
          |    sum(ntok)::BIGINT FROM kept JOIN tl USING (doc_id)
          |  UNION ALL SELECT 3, 'near_dedup', count(*)::BIGINT,
          |    sum(ntok)::BIGINT FROM nd JOIN tl USING (doc_id)
          |  UNION ALL SELECT 4, 'quality_head_middle', count(*)::BIGINT,
          |    sum(ntok)::BIGINT FROM fin JOIN tl USING (doc_id))
          |ORDER BY stage_idx""".stripMargin),

    // the full release-recipe replay: C4 page cleanse (the q_c4_filters
    // chunk), then the clean-pipeline + nd-survivor chunks over the
    // CLEANED text, decontamination grams vs the raw heldout slice, the
    // DSIR chain over the survivors (dsirCteOf), the component-keyed
    // train split, and the q_train_shards packing arithmetic — every
    // chunk the one its standalone key already hash-proves
    "q_release_funnel" ->
      (s"WITH RECURSIVE $releaseC4Ctes,\n" +
        s"${cleanPipelineCtesFrom("c4src")},\n" +
        s"$ndSurvivorCtes,\n" +
        s"""hgr AS (
           |  SELECT doc_id, list_filter(
           |    string_split_regex(lower(text), '\\s+'), x -> x != '') AS tk
           |  FROM documents WHERE doc_id % 97 = 0),
           |hsh AS (
           |  SELECT DISTINCT unnest(list_distinct(list_transform(
           |    CASE WHEN len(tk) >= 3 THEN
           |      list_transform(generate_series(1, len(tk) - 2),
           |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
           |    ELSE [array_to_string(tk, ' ')] END,
           |    s -> ${hash32Sql("s")}))) AS sh
           |  FROM hgr),
           |ngr AS (
           |  SELECT n.doc_id, list_filter(
           |    string_split_regex(lower(n.text), '\\s+'), x -> x != '') AS tk
           |  FROM nd n WHERE n.doc_id % 97 <> 0),
           |nex AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(
           |    CASE WHEN len(tk) >= 3 THEN
           |      list_transform(generate_series(1, len(tk) - 2),
           |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
           |    ELSE [array_to_string(tk, ' ')] END,
           |    s -> ${hash32Sql("s")}))) AS sh
           |  FROM ngr),
           |cont AS (
           |  SELECT DISTINCT e.doc_id FROM nex e JOIN hsh USING (sh)),
           |decon AS MATERIALIZED (
           |  SELECT n.*, d.lang FROM nd n JOIN documents d USING (doc_id)
           |  WHERE n.doc_id % 97 <> 0
           |    AND n.doc_id NOT IN (SELECT doc_id FROM cont)),
           |toks AS MATERIALIZED (
           |  SELECT doc_id, lang = 'en' AS is_target,
           |    unnest(list_filter(
           |      string_split_regex(lower(text), '\\s+'), x -> x != ''))
           |      AS term
           |  FROM decon),\n""".stripMargin +
        s"$dsirProfileChunk,\n" +
        s"""sel AS MATERIALIZED (
           |  SELECT doc_id FROM decon WHERE lang = 'en'
           |  UNION ALL
           |  SELECT dw.doc_id FROM dw
           |  WHERE ${hash16Sql("doc_id::VARCHAR")}
           |        < floor(dsir_weight::DOUBLE
           |                / (SELECT max(dsir_weight) FROM dw)::DOUBLE
           |                * 65536.0)::BIGINT),
           |spl AS (
           |  SELECT s2.doc_id,
           |    coalesce(c.component, s2.doc_id) AS skey
           |  FROM sel s2 LEFT JOIN comp c ON s2.doc_id = c.id),
           |tr AS (
           |  SELECT doc_id FROM spl
           |  WHERE ${hash16Sql("skey::VARCHAR")} % 100 >= 20),
           |tl AS MATERIALIZED (SELECT doc_id, len(toks)::BIGINT AS ntok FROM toks0),
           |rtl AS (
           |  SELECT doc_id, len(list_filter(
           |    string_split_regex(lower(text), '\\s+'), x -> x != ''))::BIGINT
           |    AS ntok
           |  FROM documents),
           |pk AS (
           |  SELECT t.doc_id, tl.ntok,
           |    ${hash32Sql("'0:' || t.doc_id::VARCHAR")} AS eh
           |  FROM tr t JOIN tl ON t.doc_id = tl.doc_id),
           |pc AS (
           |  SELECT doc_id, ntok,
           |    (sum(ntok) OVER (ORDER BY eh, doc_id
           |      ROWS UNBOUNDED PRECEDING))::BIGINT AS cum
           |  FROM pk),
           |shx AS (SELECT doc_id, ntok,
           |  ((cum - ntok) // 1000)::BIGINT AS shard FROM pc)
           |SELECT * FROM (
           |  SELECT 0 AS stage_idx, 'raw' AS stage,
           |    count(*)::BIGINT AS n_docs, coalesce(sum(ntok), 0)::BIGINT AS n_tokens,
           |    0::BIGINT AS n_shards
           |  FROM rtl
           |  UNION ALL SELECT 1, 'c4_cleanse', count(*)::BIGINT,
           |    coalesce(sum(ntok), 0)::BIGINT, 0::BIGINT FROM tl
           |  UNION ALL SELECT 2, 'lang_quality', count(*)::BIGINT,
           |    coalesce(sum(ntok), 0)::BIGINT, 0::BIGINT FROM f JOIN tl USING (doc_id)
           |  UNION ALL SELECT 3, 'exact_dedup', count(*)::BIGINT,
           |    coalesce(sum(ntok), 0)::BIGINT, 0::BIGINT FROM kept JOIN tl USING (doc_id)
           |  UNION ALL SELECT 4, 'near_dedup', count(*)::BIGINT,
           |    coalesce(sum(ntok), 0)::BIGINT, 0::BIGINT FROM nd JOIN tl USING (doc_id)
           |  UNION ALL SELECT 5, 'decontaminate', count(*)::BIGINT,
           |    coalesce(sum(ntok), 0)::BIGINT, 0::BIGINT FROM decon JOIN tl USING (doc_id)
           |  UNION ALL SELECT 6, 'dsir_select', count(*)::BIGINT,
           |    coalesce(sum(ntok), 0)::BIGINT, 0::BIGINT FROM sel JOIN tl USING (doc_id)
           |  UNION ALL SELECT 7, 'train_split', count(*)::BIGINT,
           |    coalesce(sum(ntok), 0)::BIGINT, 0::BIGINT FROM tr JOIN tl USING (doc_id)
           |  UNION ALL SELECT 8, 'pack_shards', count(*)::BIGINT,
           |    coalesce(sum(ntok), 0)::BIGINT, count(DISTINCT shard)::BIGINT FROM shx)
           |ORDER BY stage_idx""".stripMargin),

    // fuzzy join: identical prefix-block + unit-cost Levenshtein DP in
    // both engines
    // hot blocks excluded at 512 (the Spark-side maxBlock gate)
    "q_fuzzy_join" ->
      """WITH c AS (
        |  SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk
        |  FROM customer),
        |g AS (SELECT blk FROM c GROUP BY blk HAVING count(*) <= 512),
        |cg AS (SELECT c.* FROM c JOIN g USING (blk))
        |SELECT a.c_custkey AS id1, b.c_custkey AS id2,
        |  levenshtein(a.c_name, b.c_name)::INT AS dist
        |FROM cg a JOIN cg b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id1, id2""".stripMargin,

    "q_range_join" ->
      """SELECT c_custkey, s_suppkey
        |FROM customer JOIN supplier
        |  ON c_acctbal >= s_acctbal - 100 AND c_acctbal <= s_acctbal + 100
        |ORDER BY c_custkey, s_suppkey""".stripMargin,

    "q_range_join_agg" ->
      """SELECT count(*)::BIGINT AS n_pairs,
        |  sum(c_custkey)::BIGINT AS sum_c,
        |  sum(s_suppkey)::BIGINT AS sum_s,
        |  sum((c_custkey * 100003 + s_suppkey) % 1000000007)::BIGINT
        |    AS checksum
        |FROM customer JOIN supplier
        |  ON c_acctbal >= s_acctbal - 100 AND c_acctbal <= s_acctbal + 100""".stripMargin,

    "q_asof_join" ->
      """SELECT o_orderkey, o_custkey,
        |  lag(o_orderkey) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_asof_join_incl" ->
      """SELECT l.event_id, l.user_id,
        |  (SELECT r.event_id FROM events r
        |   WHERE r.event_type = 'view' AND r.user_id = l.user_id
        |     AND (r.ts < l.ts OR (r.ts = l.ts AND r.event_id <= l.event_id))
        |   ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS asof_view_id
        |FROM events l WHERE l.event_type = 'purchase'
        |ORDER BY l.event_id""".stripMargin,

    "q_split_assign" ->
      s"""SELECT doc_id,
         |  CASE WHEN ${hash16Sql("doc_id::VARCHAR")} % 100 < 10 THEN 'test'
         |       WHEN ${hash16Sql("doc_id::VARCHAR")} % 100 < 20 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    // same recursive-components CTE as q_dedup_components, same split
    // hash as q_split_assign — keyed on the component label
    "q_split_leakage_safe" ->
      s"""WITH RECURSIVE ${lshPairsCteValved(LshMaxBucket)},
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION SELECT id2, id1 FROM pairs),
         |reach AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e
         |    ON r.b = e.a AND e.b <> r.a),
         |comp AS (
         |  SELECT a AS id, least(a, min(b)) AS component
         |  FROM reach GROUP BY a),
         |lab AS (
         |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
         |SELECT doc_id, component,
         |  CASE WHEN ${hash16Sql("component::VARCHAR")} % 100 < 10
         |         THEN 'test'
         |       WHEN ${hash16Sql("component::VARCHAR")} % 100 < 20
         |         THEN 'val'
         |       ELSE 'train' END AS split
         |FROM lab ORDER BY doc_id""".stripMargin,

    "q_train_shards" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |    CASE WHEN ${hash16Sql("doc_id::VARCHAR")} % 100 < 10
         |           THEN 'test'
         |         WHEN ${hash16Sql("doc_id::VARCHAR")} % 100 < 20
         |           THEN 'val'
         |         ELSE 'train' END AS split,
         |    len(list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x != ''))::BIGINT AS n_tokens,
         |    ${hash32Sql("'0:' || doc_id::VARCHAR")} AS eh
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, split, n_tokens,
         |    (sum(n_tokens) OVER (PARTITION BY split ORDER BY eh, doc_id
         |      ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
         |  FROM s)
         |SELECT doc_id, split, n_tokens, cum_tokens,
         |  ((cum_tokens - n_tokens) // 1000)::BIGINT AS shard
         |FROM c ORDER BY doc_id""".stripMargin,

    // q_train_shards with payload bytes as the packed value: the
    // attachPayload payload is the text's UTF-8 bytes, so
    // octet_length(encode(text)) replays it exactly
    "q_pack_byte_budget" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |    CASE WHEN ${hash16Sql("doc_id::VARCHAR")} % 100 < 10
         |           THEN 'test'
         |         WHEN ${hash16Sql("doc_id::VARCHAR")} % 100 < 20
         |           THEN 'val'
         |         ELSE 'train' END AS split,
         |    octet_length(encode(text))::BIGINT AS n_bytes,
         |    ${hash32Sql("'0:' || doc_id::VARCHAR")} AS eh
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, split, n_bytes,
         |    (sum(n_bytes) OVER (PARTITION BY split ORDER BY eh, doc_id
         |      ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_bytes
         |  FROM s)
         |SELECT doc_id, split, n_bytes, cum_bytes,
         |  ((cum_bytes - n_bytes) // 10000)::BIGINT AS shard
         |FROM c ORDER BY doc_id""".stripMargin,

    // domain-mix replay: same T = min(n/p), same floor(p·T/n·2^16)
    // integer thresholds, same 16-bit hash — all-DOUBLE arithmetic on
    // integer counts, so thresholds match bit-for-bit
    "q_sample_mix" ->
      s"""WITH n AS (
         |  SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang),
         |w AS (SELECT * FROM (VALUES
         |    ('en', 0.3::DOUBLE), ('de', 0.2::DOUBLE), ('es', 0.2::DOUBLE),
         |    ('fr', 0.15::DOUBLE), ('zh', 0.15::DOUBLE)) AS w(lang, p)),
         |j AS (SELECT n.lang, n.n, w.p FROM n JOIN w USING (lang)
         |      WHERE n.n > 0),
         |t AS (SELECT min(n / p) AS t FROM j),
         |thr AS (SELECT lang,
         |    floor(p * (SELECT t FROM t) / n * 65536.0)::BIGINT AS thr
         |  FROM j)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN thr USING (lang)
         |WHERE ${hash16Sql("doc_id::VARCHAR")} < thr
         |ORDER BY doc_id""".stripMargin,

    // temperature replay: same threshold arithmetic as q_sample_mix
    // with w = sqrt(n) — every op correctly-rounded IEEE in both
    // engines, same evaluation order. WHERE lang IS NOT NULL mirrors
    // countsByDomain's null filter: both sides must define the binding
    // domain t = min(n/w) over the same set, or a NULL group could shift
    // every threshold (latent — testdata has no NULL langs).
    "q_sample_temperature" ->
      s"""WITH n AS (
         |  SELECT lang, count(*)::BIGINT AS n FROM documents
         |  WHERE lang IS NOT NULL GROUP BY lang),
         |w AS (SELECT lang, n, sqrt(n::DOUBLE) AS w FROM n WHERE n > 0),
         |t AS (SELECT min(n / w) AS t FROM w),
         |thr AS (SELECT lang,
         |    floor(w * (SELECT t FROM t) / n * 65536.0)::BIGINT AS thr
         |  FROM w)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN thr USING (lang)
         |WHERE ${hash16Sql("doc_id::VARCHAR")} < thr
         |ORDER BY doc_id""".stripMargin,

    "q_lm_score" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x != '')) AS term
         |  FROM documents),
         |c AS (SELECT term, count(*)::BIGINT AS cnt FROM toks GROUP BY term),
         |tot AS (SELECT sum(cnt)::DOUBLE AS tot FROM c),
         |p AS (
         |  SELECT t.doc_id, t.term,
         |    c.cnt::DOUBLE / (SELECT tot FROM tot) AS p
         |  FROM toks t JOIN c USING (term))
         |SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |  ${graft.functions.Rounding.floorRoundSql(
              "list_sum(list(p ORDER BY term)) / count(*)", 6)} AS lm_score
         |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // lift = ((c12·T)/B·T)/(c1·c2) — the identical left-assoc double op
    // tree on both engines, exact casts, unrounded
    "q_colloc_lift" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x != '') AS tk FROM documents),
        |ex AS (
        |  SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS p
        |  FROM toks),
        |occ AS (
        |  SELECT doc_id, tk[p] AS cur,
        |    CASE WHEN p > 1 THEN tk[p-1] ELSE '' END AS prev
        |  FROM ex),
        |tot AS (
        |  SELECT count(*)::DOUBLE AS tt,
        |    (count(*) FILTER (WHERE prev != ''))::DOUBLE AS tb FROM occ),
        |uc AS (SELECT cur AS w, count(*)::BIGINT AS c FROM occ
        |  GROUP BY cur),
        |bc AS (
        |  SELECT prev AS w1, cur AS w2, count(*)::BIGINT AS pair_cnt
        |  FROM occ WHERE prev != '' GROUP BY prev, cur
        |  HAVING count(*) >= 5),
        |l AS (
        |  SELECT w1, w2, pair_cnt,
        |    (pair_cnt::DOUBLE * tot.tt / tot.tb * tot.tt) /
        |      (u1.c::DOUBLE * u2.c::DOUBLE) AS lift
        |  FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w,
        |    tot),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY lift DESC, w1, w2) AS rn
        |  FROM l)
        |SELECT w1, w2, pair_cnt, lift, rn FROM r
        |WHERE rn <= 100 ORDER BY rn""".stripMargin,

    // DSIR replay: same md5-nibble bucket hash, same add-one-smoothed
    // fixed-point ratio in HUGEINT (// == Spark div on positives)
    "q_dsir_weights" ->
      s"""WITH $dsirCteSql
         |SELECT doc_id, dsir_weight, n_tokens FROM dw
         |ORDER BY doc_id""".stripMargin,

    // hashed-bigram DSIR replay: same profile/marginal/score chain over
    // the adjacent-pair feature space
    "q_dsir_weights2" ->
      s"""WITH $dsirBigramCteSql
         |SELECT doc_id, dsir_weight, n_tokens FROM dw
         |ORDER BY doc_id""".stripMargin,

    // Bernoulli importance resampling over the shared dw CTE: the
    // q_sample_weighted acceptance hash under rate w / max(w)
    "q_dsir_select" ->
      s"""WITH $dsirCteSql
         |SELECT doc_id, dsir_weight FROM dw
         |WHERE ${hash16Sql("doc_id::VARCHAR")}
         |      < floor(dsir_weight::DOUBLE
         |              / (SELECT max(dsir_weight) FROM dw)::DOUBLE
         |              * 65536.0)::BIGINT
         |ORDER BY doc_id""".stripMargin,

    // oov rate vs the deterministic top-50 vocab (cnt desc, term asc)
    "q_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x != '')) AS term
        |  FROM documents),
        |c AS (SELECT term, count(*)::BIGINT AS cnt FROM toks
        |  GROUP BY term),
        |v AS (
        |  SELECT term FROM c
        |  ORDER BY cnt DESC, term LIMIT 50)
        |SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
        |  (count(*) FILTER (WHERE v.term IS NULL))::BIGINT AS oov_cnt,
        |  (count(*) FILTER (WHERE v.term IS NULL))::DOUBLE
        |    / count(*)::DOUBLE AS oov_rate
        |FROM toks t LEFT JOIN v ON t.term = v.term
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    // bigram stupid-backoff replay: the occurrence stream carries
    // (prev='' at position 0, cur), unigram and bigram counts rebuild
    // the probability tables, and the CASE mirrors the Spark
    // when-cascade (exact long/long divisions, α = 0.25 exact); fold
    // ordered by (prev, cur) — the term-sorted-fold rule
    "q_lm_score2" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x != '') AS tk
         |  FROM documents),
         |occ AS (
         |  SELECT doc_id, s.cur AS cur, s.prev AS prev FROM (
         |    SELECT doc_id, unnest([{'cur': tk[i+1],
         |        'prev': CASE WHEN i > 0 THEN tk[i] ELSE '' END}
         |      for i in range(0, len(tk))]) AS s
         |    FROM toks)),
         |uni AS (SELECT cur AS term, count(*)::BIGINT AS cnt
         |        FROM occ GROUP BY cur),
         |tot AS (SELECT sum(cnt)::DOUBLE AS tot FROM uni),
         |bi AS (SELECT prev, cur, count(*)::BIGINT AS bcnt
         |       FROM occ WHERE prev <> '' GROUP BY prev, cur),
         |p AS (
         |  SELECT o.doc_id, o.prev, o.cur,
         |    CASE WHEN o.prev = ''
         |           THEN u.cnt::DOUBLE / (SELECT tot FROM tot)
         |         WHEN b.bcnt IS NOT NULL
         |           THEN b.bcnt::DOUBLE / up.cnt::DOUBLE
         |         ELSE 0.25 * (u.cnt::DOUBLE / (SELECT tot FROM tot))
         |    END AS ps
         |  FROM occ o
         |  JOIN uni u ON o.cur = u.term
         |  LEFT JOIN uni up ON o.prev = up.term
         |  LEFT JOIN bi b ON o.prev = b.prev AND o.cur = b.cur)
         |SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |  ${graft.functions.Rounding.floorRoundSql(
              "list_sum(list(ps ORDER BY prev, cur)) / count(*)", 6)} AS lm_score2
         |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // lexical-diversity replay: exact BIGINT Σc², two exact long/long
    // divisions
    "q_token_diversity" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x != '')) AS term
        |  FROM documents),
        |c AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM t
        |      GROUP BY doc_id, term)
        |SELECT doc_id, sum(c)::BIGINT AS n_tokens,
        |  count(*)::BIGINT AS n_types,
        |  count(*)::DOUBLE / sum(c)::DOUBLE AS ttr,
        |  sum(c * c)::DOUBLE / (sum(c)::BIGINT * sum(c)::BIGINT)::DOUBLE
        |    AS simpson
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // vocabulary growth replay: 3-gram types via zip-unnest + lead()
    // (the gopher-oracle rule — an unnest carrying the tk list
    // replicates the whole array per position and blows past
    // memory_limit at sf10), first-doc per type, decile by integer
    // division of the doc-id range, 10-row running sum
    "q_vocab_growth" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x != '') AS tk
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, len(tk) AS sz, unnest(tk) AS tok,
        |    unnest(generate_series(1, len(tk))) AS p
        |  FROM toks),
        |t AS (
        |  SELECT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER win || ' ' ||
        |      lead(tok, 2) OVER win AS term
        |  FROM ex WINDOW win AS (PARTITION BY doc_id ORDER BY p)
        |  QUALIFY p <= sz - 2),
        |fd AS (SELECT term, min(doc_id) AS fd FROM t GROUP BY term),
        |mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
        |d AS (
        |  SELECT (least(9, (fd * 10) // (SELECT m FROM mx)) + 1)::INT
        |           AS decile
        |  FROM fd)
        |SELECT decile, count(*)::BIGINT AS new_types,
        |  sum(count(*)) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cum_types
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin,

    // interpolated Kneser-Ney replay: every model table derives from
    // the bigram count table; the probability tree mirrors the Spark
    // when-cascade operation-for-operation (exact casts, D = 0.75 an
    // exact binary fraction); fold ordered by (prev, cur)
    "q_lm_score_kn" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x != '') AS tk
         |  FROM documents),
         |occ AS (
         |  SELECT doc_id, s.cur AS cur, s.prev AS prev FROM (
         |    SELECT doc_id, unnest([{'cur': tk[i+1],
         |        'prev': CASE WHEN i > 0 THEN tk[i] ELSE '' END}
         |      for i in range(0, len(tk))]) AS s
         |    FROM toks)),
         |bi AS (SELECT prev, cur, count(*)::BIGINT AS bc
         |       FROM occ WHERE prev <> '' GROUP BY prev, cur),
         |pv AS (SELECT prev, sum(bc)::BIGINT AS pc,
         |         count(*)::BIGINT AS n1f FROM bi GROUP BY prev),
         |cv AS (SELECT cur, count(*)::BIGINT AS n1r FROM bi GROUP BY cur),
         |bt AS (SELECT sum(n1f)::DOUBLE AS b FROM pv),
         |p0 AS (
         |  SELECT o.doc_id, o.prev, o.cur,
         |    coalesce(c.n1r, 0)::DOUBLE / (SELECT b FROM bt) AS pcont,
         |    v.pc AS pc, v.n1f AS n1f, b2.bc AS bc
         |  FROM occ o
         |  LEFT JOIN cv c ON o.cur = c.cur
         |  LEFT JOIN pv v ON o.prev = v.prev
         |  LEFT JOIN bi b2 ON o.prev = b2.prev AND o.cur = b2.cur),
         |p AS (
         |  SELECT doc_id, prev, cur,
         |    CASE WHEN prev = '' THEN pcont
         |         WHEN pc IS NULL THEN pcont
         |         ELSE greatest(coalesce(bc, 0)::DOUBLE - 0.75, 0.0)
         |                / pc::DOUBLE
         |              + (0.75 * n1f::DOUBLE / pc::DOUBLE) * pcont
         |    END AS ps
         |  FROM p0)
         |SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |  ${graft.functions.Rounding.floorRoundSql(
              "list_sum(list(ps ORDER BY prev, cur)) / count(*)", 6)} AS lm_score_kn
         |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // trigram modified-KN replay: every model table derives from the
    // trigram count table; the two discount triples are 1-row CTEs
    // whose CASE trees mirror modKnDiscounts operation-for-operation
    // (exact long→double casts, left-assoc mul/div chains); the
    // probability cascade mirrors the Spark when-chain; fold ordered
    // by (u, v, w)
    "q_lm_score_kn3" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x != '') AS tk
         |  FROM documents),
         |occ AS (
         |  SELECT doc_id, s.w AS w, s.v AS v, s.u AS u FROM (
         |    SELECT doc_id, unnest([{'w': tk[i+1],
         |        'v': CASE WHEN i > 0 THEN tk[i] ELSE '' END,
         |        'u': CASE WHEN i > 1 THEN tk[i-1] ELSE '' END}
         |      for i in range(0, len(tk))]) AS s
         |    FROM toks)),
         |tri AS (SELECT u, v, w, count(*)::BIGINT AS tc
         |        FROM occ WHERE u <> '' GROUP BY u, v, w),
         |bc AS (SELECT v, w, count(*)::BIGINT AS bc2
         |       FROM tri GROUP BY v, w),
         |ctx3 AS (SELECT u, v, sum(tc)::BIGINT AS cv3,
         |    count(*) FILTER (WHERE tc = 1)::BIGINT AS n1c,
         |    count(*) FILTER (WHERE tc = 2)::BIGINT AS n2c,
         |    count(*) FILTER (WHERE tc >= 3)::BIGINT AS n3pc
         |  FROM tri GROUP BY u, v),
         |ctx2 AS (SELECT v, sum(bc2)::BIGINT AS cv2,
         |    count(*) FILTER (WHERE bc2 = 1)::BIGINT AS m1c,
         |    count(*) FILTER (WHERE bc2 = 2)::BIGINT AS m2c,
         |    count(*) FILTER (WHERE bc2 >= 3)::BIGINT AS m3pc
         |  FROM bc GROUP BY v),
         |nr AS (SELECT w, count(*)::BIGINT AS n1r FROM bc GROUP BY w),
         |bt AS (SELECT count(*)::DOUBLE AS b FROM bc),
         |tst AS (SELECT
         |    count(*) FILTER (WHERE tc = 1)::BIGINT AS n1,
         |    count(*) FILTER (WHERE tc = 2)::BIGINT AS n2,
         |    count(*) FILTER (WHERE tc = 3)::BIGINT AS n3,
         |    count(*) FILTER (WHERE tc = 4)::BIGINT AS n4
         |  FROM tri),
         |bst AS (SELECT
         |    count(*) FILTER (WHERE bc2 = 1)::BIGINT AS n1,
         |    count(*) FILTER (WHERE bc2 = 2)::BIGINT AS n2,
         |    count(*) FILTER (WHERE bc2 = 3)::BIGINT AS n3,
         |    count(*) FILTER (WHERE bc2 = 4)::BIGINT AS n4
         |  FROM bc),
         |disc AS (SELECT
         |    CASE WHEN t.n1 > 0 AND t.n2 > 0 AND t.n3 > 0
         |      THEN greatest(1.0::DOUBLE - 2.0::DOUBLE
         |        * (t.n1::DOUBLE / (t.n1 + 2 * t.n2)::DOUBLE)
         |        * t.n2::DOUBLE / t.n1::DOUBLE, 0.0::DOUBLE)
         |      ELSE 0.75::DOUBLE END AS ta,
         |    CASE WHEN t.n1 > 0 AND t.n2 > 0 AND t.n3 > 0
         |      THEN greatest(2.0::DOUBLE - 3.0::DOUBLE
         |        * (t.n1::DOUBLE / (t.n1 + 2 * t.n2)::DOUBLE)
         |        * t.n3::DOUBLE / t.n2::DOUBLE, 0.0::DOUBLE)
         |      ELSE 0.75::DOUBLE END AS tb,
         |    CASE WHEN t.n1 > 0 AND t.n2 > 0 AND t.n3 > 0
         |      THEN greatest(3.0::DOUBLE - 4.0::DOUBLE
         |        * (t.n1::DOUBLE / (t.n1 + 2 * t.n2)::DOUBLE)
         |        * t.n4::DOUBLE / t.n3::DOUBLE, 0.0::DOUBLE)
         |      ELSE 0.75::DOUBLE END AS tcd,
         |    CASE WHEN b.n1 > 0 AND b.n2 > 0 AND b.n3 > 0
         |      THEN greatest(1.0::DOUBLE - 2.0::DOUBLE
         |        * (b.n1::DOUBLE / (b.n1 + 2 * b.n2)::DOUBLE)
         |        * b.n2::DOUBLE / b.n1::DOUBLE, 0.0::DOUBLE)
         |      ELSE 0.75::DOUBLE END AS ba,
         |    CASE WHEN b.n1 > 0 AND b.n2 > 0 AND b.n3 > 0
         |      THEN greatest(2.0::DOUBLE - 3.0::DOUBLE
         |        * (b.n1::DOUBLE / (b.n1 + 2 * b.n2)::DOUBLE)
         |        * b.n3::DOUBLE / b.n2::DOUBLE, 0.0::DOUBLE)
         |      ELSE 0.75::DOUBLE END AS bb,
         |    CASE WHEN b.n1 > 0 AND b.n2 > 0 AND b.n3 > 0
         |      THEN greatest(3.0::DOUBLE - 4.0::DOUBLE
         |        * (b.n1::DOUBLE / (b.n1 + 2 * b.n2)::DOUBLE)
         |        * b.n4::DOUBLE / b.n3::DOUBLE, 0.0::DOUBLE)
         |      ELSE 0.75::DOUBLE END AS bcd
         |  FROM tst t, bst b),
         |p0 AS (
         |  SELECT o.doc_id, o.u, o.v, o.w,
         |    coalesce(r.n1r, 0)::DOUBLE / (SELECT b FROM bt) AS pcont,
         |    c2.cv2, c2.m1c, c2.m2c, c2.m3pc, b2.bc2,
         |    c3.cv3, c3.n1c, c3.n2c, c3.n3pc, t.tc
         |  FROM occ o
         |  LEFT JOIN nr r ON o.w = r.w
         |  LEFT JOIN ctx2 c2 ON o.v = c2.v
         |  LEFT JOIN bc b2 ON o.v = b2.v AND o.w = b2.w
         |  LEFT JOIN ctx3 c3 ON o.u = c3.u AND o.v = c3.v
         |  LEFT JOIN tri t ON o.u = t.u AND o.v = t.v AND o.w = t.w),
         |p2 AS (
         |  SELECT p0.*,
         |    CASE WHEN cv2 IS NULL THEN pcont
         |      ELSE coalesce(bc2::DOUBLE
         |          - CASE WHEN bc2 = 1 THEN d.ba WHEN bc2 = 2 THEN d.bb
         |                 ELSE d.bcd END, 0.0::DOUBLE)
         |        / cv2::DOUBLE
         |        + (d.ba * m1c::DOUBLE + d.bb * m2c::DOUBLE
         |           + d.bcd * m3pc::DOUBLE) / cv2::DOUBLE * pcont
         |    END AS p2v
         |  FROM p0, disc d),
         |p AS (
         |  SELECT doc_id, u, v, w,
         |    CASE WHEN u = '' AND v = '' THEN pcont
         |         WHEN u = '' THEN p2v
         |         WHEN cv3 IS NULL THEN p2v
         |         ELSE coalesce(tc::DOUBLE
         |             - CASE WHEN tc = 1 THEN d.ta WHEN tc = 2 THEN d.tb
         |                    ELSE d.tcd END, 0.0::DOUBLE)
         |           / cv3::DOUBLE
         |           + (d.ta * n1c::DOUBLE + d.tb * n2c::DOUBLE
         |              + d.tcd * n3pc::DOUBLE) / cv3::DOUBLE * p2v
         |    END AS ps
         |  FROM p2, disc d)
         |SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |  ${graft.functions.Rounding.floorRoundSql(
              "list_sum(list(ps ORDER BY u, v, w)) / count(*)", 6)} AS lm_score_kn3
         |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ppl_buckets" ->
      s"""WITH $pplScoreCte,
         |r AS (
         |  SELECT *, row_number() OVER (
         |      PARTITION BY lang ORDER BY lm_score DESC, doc_id) AS rnk,
         |    count(*) OVER (PARTITION BY lang) AS n FROM j)
         |SELECT doc_id, lang, lm_score,
         |  CASE WHEN rnk * 3 <= n THEN 'head'
         |       WHEN rnk * 3 <= n * 2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM r ORDER BY doc_id""".stripMargin,

    "q_ppl_buckets_sampled" ->
      s"""WITH $pplScoreCte,
         |smp AS (
         |  SELECT * FROM j WHERE ${hash16Sql("doc_id::VARCHAR")} < 16384),
         |r AS (
         |  SELECT *, row_number() OVER (
         |      PARTITION BY lang ORDER BY lm_score DESC, doc_id) AS rnk,
         |    count(*) OVER (PARTITION BY lang) AS n FROM smp),
         |cuts AS (
         |  SELECT lang,
         |    min(CASE WHEN rnk * 3 <= n THEN lm_score END) AS head_min,
         |    min(CASE WHEN rnk * 3 <= n * 2 THEN lm_score END) AS mid_min
         |  FROM r GROUP BY lang)
         |SELECT j.doc_id, j.lang, j.lm_score,
         |  CASE WHEN j.lm_score >= c.head_min THEN 'head'
         |       WHEN j.lm_score >= c.mid_min THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM j LEFT JOIN cuts c USING (lang)
         |ORDER BY doc_id""".stripMargin,

    "q_bpe_pairs" ->
      s"""WITH toks AS (
         |  SELECT unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x != '')) AS word
         |  FROM documents),
         |w AS (SELECT word, count(*)::BIGINT AS wcnt FROM toks GROUP BY word),
         |p AS (
         |  SELECT unnest([substr(word, i, 2) for i in
         |      range(1, length(word))]) AS pair, wcnt
         |  FROM w WHERE length(word) >= 2)
         |SELECT pair, sum(wcnt)::BIGINT AS cnt
         |FROM p GROUP BY pair
         |ORDER BY cnt DESC, pair LIMIT 40""".stripMargin,

    "q_bpe_train" ->
      s"""WITH ${bpeOracleCtes(8)}
         |${(1 to 8).map(k =>
             s"SELECT step, l AS lhs, r AS rhs, cnt FROM best$k")
             .mkString("\n", "\nUNION ALL\n", "\n")}ORDER BY step""".stripMargin,

    "q_bpe_encode" ->
      s"""WITH ${bpeOracleCtes(8)}
         |SELECT t.doc_id,
         |  sum(len(string_split(v.sym, ' ')))::BIGINT AS n_bpe_tokens,
         |  count(*)::BIGINT AS n_words
         |FROM toks t JOIN seg8 v USING (word)
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,

    "q_wordpiece_encode" ->
      s"""WITH ${wordpieceOracleCtes(8, 16)},
         |enc AS (
         |  SELECT word, CASE WHEN unk THEN 1 ELSE n END AS wtok, unk
         |  FROM w16)
         |SELECT t.doc_id, sum(e.wtok)::BIGINT AS n_wp_tokens,
         |  sum(CASE WHEN e.unk THEN 1 ELSE 0 END)::BIGINT AS n_unk_words,
         |  count(*)::BIGINT AS n_words
         |FROM toks t JOIN enc e USING (word)
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,

    // unigram-LM training replayed exactly: seed counts, two unrolled
    // 16-stage Viterbi chains (integer lexicographic objective — the
    // no-transcendentals rule), hard-EM usage, prune, re-score
    "q_unigram_train" ->
      s"""WITH ${unigramOracleCtes(60, 40, 16, 4)}
         |SELECT vu.unit, coalesce(u2.usage, 0::BIGINT) AS usage
         |FROM (SELECT unit FROM v2c UNION ALL SELECT unit FROM v2m) vu
         |LEFT JOIN u2 USING (unit)
         |ORDER BY usage DESC, unit""".stripMargin,

    // INVARIANT the parity rests on: this oracle reuses the b16 dp
    // chain, whose Viterbi segmentation ran under the ROUND-1 usage
    // scores, while the Spark side re-runs Viterbi under the FINAL
    // usage2 scores. Parity holds because the key emits only ntok
    // (token COUNT), and ntok is score-independent: the lexicographic
    // objective (min ntok, then max usage-sum) decides the count by its
    // FIRST component alone, and the reachable-segmentation set depends
    // only on vocab MEMBERSHIP, which prune fixes before either scoring.
    // If this key ever emits the chosen units, or the objective stops
    // being count-first, re-derive a third dp chain under usage2 scores
    // for exact path parity (round-12 ADVICE).
    "q_unigram_encode" ->
      s"""WITH ${unigramOracleCtes(60, 40, 16, 4)},
         |wt AS (
         |  SELECT word, dp[length(word) + 1].ntok AS wtok FROM b16
         |  UNION ALL
         |  SELECT DISTINCT word, 1 AS wtok FROM toks
         |  WHERE length(word) > 16)
         |SELECT t.doc_id, sum(wt.wtok)::BIGINT AS n_ug_tokens,
         |  count(*)::BIGINT AS n_words
         |FROM toks t JOIN wt USING (word)
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,

    "q_sketch_kmv" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ${hash32Sql("user_id::VARCHAR")} AS h FROM events),
         |s AS (
         |  SELECT event_type, count(*) AS nd, list_sort(list(h)) AS mins
         |  FROM h GROUP BY event_type)
         |SELECT event_type, least(nd, 64)::INT AS n_sketch,
         |  CASE WHEN nd < 64 THEN nd::DOUBLE
         |       ELSE 63 * 4294967296.0 / mins[64] END AS est
         |FROM s ORDER BY event_type""".stripMargin,

    // KMV set algebra: exact list replay of the two sketches, the k-min
    // merge, the common-member count, and the fixed estimate op tree
    "q_sketch_kmv_setops" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ${hash32Sql("user_id::VARCHAR")} AS h FROM events),
         |s AS (
         |  SELECT event_type, list_sort(list(h))[:64] AS mins
         |  FROM h GROUP BY event_type),
         |p AS (
         |  SELECT a.event_type AS g1, b.event_type AS g2,
         |    a.mins AS ma, b.mins AS mb
         |  FROM s a JOIN s b ON a.event_type < b.event_type),
         |m AS (
         |  SELECT g1, g2, ma, mb,
         |    list_sort(list_distinct(list_concat(ma, mb)))[:64] AS merged
         |  FROM p),
         |c AS (
         |  SELECT g1, g2, merged, len(merged)::BIGINT AS ll,
         |    len(list_filter(merged, x -> list_contains(ma, x)
         |      AND list_contains(mb, x)))::BIGINT AS n_common
         |  FROM m),
         |u AS (
         |  SELECT g1, g2, ll, n_common,
         |    CASE WHEN ll < 64 THEN ll::DOUBLE
         |         ELSE 63 * 4294967296.0 / merged[64] END AS est_union
         |  FROM c)
         |SELECT g1, g2, n_common, est_union,
         |  n_common::DOUBLE / ll::DOUBLE * est_union AS est_intersect,
         |  n_common::DOUBLE / ll::DOUBLE AS est_jaccard
         |FROM u ORDER BY g1, g2""".stripMargin,

    // HLL replay: bucket = top 8 bits of the md5-derived 32-bit hash,
    // rank = 25 - bitlength(low 24 bits) (bin() is the exact integer
    // path in both engines); absent registers contribute 2^0 = 1.
    // All-double arithmetic on binary fractions → bit-exact est_raw.
    "q_sketch_hll" ->
      s"""WITH r AS (
         |  SELECT event_type,
         |    ${hash32Sql("user_id::VARCHAR")} // 16777216 AS bucket,
         |    CASE WHEN ${hash32Sql("user_id::VARCHAR")} % 16777216 = 0
         |         THEN 25
         |         ELSE 25 - length(bin(${hash32Sql("user_id::VARCHAR")} % 16777216))
         |    END AS rank
         |  FROM events),
         |regs AS (
         |  SELECT event_type, bucket, max(rank) AS m
         |  FROM r GROUP BY event_type, bucket),
         |g AS (
         |  SELECT event_type, (256 - count(*))::BIGINT AS n_zero,
         |    sum(1.0::DOUBLE / (1::BIGINT << m)) + (256 - count(*)) AS hsum
         |  FROM regs GROUP BY event_type)
         |SELECT event_type, n_zero,
         |  ${0.7213 / (1.0 + 1.079 / 256) * 256 * 256.0} / hsum AS est_raw
         |FROM g ORDER BY event_type""".stripMargin,

    // host-cap replay: the synthesized URL's host reduces to
    // 'www.' || lower(source) || '.example.com' (urlHost itself is
    // oracled end-to-end by q_url_normalize); quality from the shared
    // CTE; the cap is the window formulation.
    "q_host_cap" ->
      s"""WITH $qualityCteSql,
         |j AS (
         |  SELECT q.doc_id,
         |    'www.' || lower(d.source) || '.example.com' AS host,
         |    q.quality
         |  FROM q JOIN documents d USING (doc_id))
         |SELECT doc_id, host, quality, rn FROM (
         |  SELECT doc_id, host, quality,
         |    row_number() OVER (PARTITION BY host
         |      ORDER BY quality DESC, doc_id ASC) AS rn
         |  FROM j) t
         |WHERE rn <= 10 ORDER BY host, rn""".stripMargin,

    // hard negatives: the knnJoin oracle shape at k=15 with the
    // positive prefix removed.
    "q_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 10),
        |p AS (
        |  SELECT q.query_id, e.vec_id AS match_id,
        |    round(sqrt(list_sum(list_transform(
        |      generate_series(1, len(e.embedding)),
        |      i -> (e.embedding[i]::DOUBLE - q.qv[i]::DOUBLE)
        |         * (e.embedding[i]::DOUBLE - q.qv[i]::DOUBLE)))), 6) AS dist
        |  FROM q, embeddings e),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY dist, match_id) AS rn FROM p)
        |SELECT query_id, match_id, dist, rn FROM r
        |WHERE rn > 5 AND rn <= 15 ORDER BY query_id, rn""".stripMargin,

    // URL replay: identical synthesized URL, identical split/filter/
    // join normalization via DuckDB's list functions (no regex on
    // either side, so there is no dialect to diverge).
    "q_url_normalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.' || upper(source) || '.Example.COM:443/Articles/'
        |    || lang || '/' || (doc_id % 50)::VARCHAR
        |    || '?utm_source=feed&ref=rss&id=' || doc_id::VARCHAR
        |    || '#sec-' || (doc_id % 5)::VARCHAR AS url
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    lower(string_split(string_split(url, '#')[1], '://')[1]) AS scheme,
        |    string_split(string_split(url, '#')[1], '://')[2] AS rest
        |  FROM u),
        |bq AS (
        |  SELECT *, string_split(rest, '?')[1] AS beforeq,
        |    CASE WHEN len(string_split(rest, '?')) > 1
        |         THEN string_split(rest, '?')[2] ELSE NULL END AS qs
        |  FROM s),
        |h AS (
        |  SELECT *,
        |    CASE WHEN (scheme = 'https'
        |           AND ends_with(lower(string_split(beforeq, '/')[1]), ':443'))
        |           OR (scheme = 'http'
        |           AND ends_with(lower(string_split(beforeq, '/')[1]), ':80'))
        |         THEN string_split(lower(string_split(beforeq, '/')[1]), ':')[1]
        |         ELSE lower(string_split(beforeq, '/')[1]) END AS host,
        |    list_filter(string_split(beforeq, '/')[2:], x -> x != '') AS segs,
        |    list_filter(
        |      CASE WHEN qs IS NULL THEN []::VARCHAR[]
        |           ELSE list_filter(string_split(qs, '&'), p -> p != '') END,
        |      p -> NOT starts_with(p, 'utm_')
        |       AND NOT starts_with(p, 'ref=')) AS kept
        |  FROM bq)
        |SELECT doc_id,
        |  scheme || '://' || host ||
        |  CASE WHEN len(segs) > 0
        |       THEN '/' || array_to_string(segs, '/') ELSE '' END ||
        |  CASE WHEN len(kept) > 0
        |       THEN '?' || array_to_string(kept, '&') ELSE '' END AS url_norm,
        |  host, len(segs)::INT AS path_depth
        |FROM h ORDER BY doc_id""".stripMargin,

    // simjoin replay: identical shingles through the identical 32-bit
    // md5 hash (nibble arithmetic — the HashedShingles contract),
    // rational idf, hash-ordered list_sum folds (value tiebreak:
    // fold-order-irrelevant among equal values), the same floor-round —
    // every float op is correctly-rounded IEEE, so cos matches
    // bit-for-bit.
    "q_tfidf_simjoin" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text),
         |    '\\s+'), x -> x != '') AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 3 THEN
         |    list_transform(generate_series(1, len(tk) - 2),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |    ELSE [array_to_string(tk, ' ')] END) AS term
         |  FROM toks),
         |hsh AS (SELECT doc_id, ${hash32Sql("term")} AS h FROM sh),
         |tf AS (
         |  SELECT doc_id, h, count(*)::BIGINT AS tf FROM hsh
         |  GROUP BY doc_id, h),
         |nn AS (SELECT count(*) AS n FROM documents),
         |keep AS (
         |  SELECT h, count(*)::BIGINT AS df FROM tf
         |  GROUP BY h HAVING count(*) <= 10),
         |w AS (
         |  SELECT t.doc_id, t.h, k.df,
         |    t.tf::DOUBLE * (SELECT n FROM nn)::DOUBLE / k.df::DOUBLE AS w
         |  FROM tf t JOIN keep k USING (h)),
         |norms AS (
         |  SELECT doc_id, sqrt(list_sum(list(w * w ORDER BY h, w))) AS norm
         |  FROM w GROUP BY doc_id),
         |p AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.h, a.w * b.w AS prod
         |  FROM w a JOIN w b ON a.h = b.h AND a.doc_id < b.doc_id
         |  WHERE a.df >= 2),
         |dots AS (
         |  SELECT id1, id2, list_sum(list(prod ORDER BY h, prod)) AS dot
         |  FROM p GROUP BY id1, id2),
         |cosd AS (
         |  SELECT id1, id2,
         |    ${graft.functions.Rounding.floorRoundSql(
              "dot / (n1.norm * n2.norm)", 6)} AS cos
         |  FROM dots
         |  JOIN norms n1 ON n1.doc_id = id1
         |  JOIN norms n2 ON n2.doc_id = id2)
         |SELECT id1, id2, cos FROM cosd WHERE cos >= 0.5::DOUBLE
         |ORDER BY id1, id2""".stripMargin,

    // bloom join: the oracle is the PLAIN semi join — the bloom stage is
    // a pure physical prune (no false negatives), so any divergence is a
    // bug in the filter.
    "q_bloom_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_orderkey = l.l_orderkey AND o.o_totalprice > 450000.0)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // epoch-shuffle replay: the permutation is a plain rank over the
    // same md5-derived hash with the same id tiebreak.
    "q_shuffle_epoch" ->
      s"""SELECT doc_id,
         |  (row_number() OVER (
         |    ORDER BY ${hash32Sql("'0:' || doc_id::VARCHAR")}, doc_id)
         |   - 1)::BIGINT AS pos_e0,
         |  (row_number() OVER (
         |    ORDER BY ${hash32Sql("'1:' || doc_id::VARCHAR")}, doc_id)
         |   - 1)::BIGINT AS pos_e1
         |FROM documents ORDER BY doc_id""".stripMargin,

    // CMS replay: same 4×256 grid from the same md5-derived addressing,
    // exact integer counters, min over the 4 addressed cells.
    "q_sketch_cms" ->
      s"""WITH toks AS (
         |  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> x != '')) AS term FROM documents),
         |probes AS (
         |  SELECT term, count(*)::BIGINT AS exact_cnt FROM toks
         |  GROUP BY term ORDER BY exact_cnt DESC, term LIMIT 20),
         |rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
         |grid AS (
         |  SELECT r, ${hash32Sql("r::VARCHAR || ':' || term")} % 256 AS b,
         |    count(*)::BIGINT AS c
         |  FROM toks CROSS JOIN rws GROUP BY 1, 2),
         |addr AS (
         |  SELECT p.term, p.exact_cnt, r,
         |    ${hash32Sql("r::VARCHAR || ':' || p.term")} % 256 AS b
         |  FROM probes p CROSS JOIN rws)
         |SELECT a.term, a.exact_cnt, min(g.c) AS cms_est
         |FROM addr a JOIN grid g USING (r, b)
         |GROUP BY a.term, a.exact_cnt
         |ORDER BY term""".stripMargin,

    "q_skew_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_skew_agg" ->
      s"""SELECT l_returnflag, count(*) AS cnt,
         |  ${dsumSql("l_quantity")} AS sum_value
         |FROM lineitem GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,

    "q_agg_cube" ->
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
         |  coalesce(o_orderpriority, 'ALL') AS priority,
         |  count(*) AS cnt, ${dsumSql("o_totalprice")} AS sum_price
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY status, priority""".stripMargin,

    "q_tfidf_top_terms" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x != '')) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks
         |  GROUP BY doc_id, term),
         |dfreq AS (
         |  SELECT term, count(DISTINCT doc_id) AS df FROM toks
         |  GROUP BY term),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (
         |  SELECT t.doc_id, t.term,
         |    ${graft.functions.Rounding.floorRoundSql(
              "t.tf * (SELECT n FROM n)::DOUBLE / d.df", 6)} AS score
         |  FROM tf t JOIN dfreq d USING (term)),
         |r AS (
         |  SELECT doc_id, term, score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, term) AS rn
         |  FROM scored)
         |SELECT doc_id, term, score, rn FROM r WHERE rn <= 3
         |ORDER BY doc_id, rn""".stripMargin,

    "q_zorder" -> {
      val zSql = (0 until 8).flatMap(b => Seq(
        s"((((o_custkey % 256) >> $b) & 1) << ${2 * b})",
        s"((((o_orderkey % 256) >> $b) & 1) << ${2 * b + 1})"))
        .mkString(" | ")
      s"""SELECT o_orderkey, o_custkey % 256 AS bx, o_orderkey % 256 AS by,
         |  ($zSql) AS z
         |FROM orders ORDER BY z, o_orderkey LIMIT 20""".stripMargin
    },

    // Hilbert xy2d replayed as an unrolled level chain: per level s,
    // quadrant bits via (v & s) > 0, d += s²·xor(3rx, ry), reflect
    // against the full n−1 when ry=0 ∧ rx=1 then swap — the exact
    // fold hilbertValue runs per row
    "q_hilbert" -> {
      val nm1 = 255
      val sb = new StringBuilder
      sb ++=
        """WITH h0 AS (
          |  SELECT o_orderkey, (o_custkey % 256) AS bx,
          |    (o_orderkey % 256) AS by,
          |    (o_custkey % 256)::BIGINT AS x,
          |    (o_orderkey % 256)::BIGINT AS y, 0::BIGINT AS d
          |  FROM orders)""".stripMargin
      (0 until 8).reverse.map(k => 1L << k).zipWithIndex.foreach {
        case (s, i) =>
          sb ++=
            s""",
               |r${i + 1} AS (
               |  SELECT o_orderkey, bx, by, x, y, d,
               |    CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
               |    CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
               |  FROM h$i),
               |h${i + 1} AS (
               |  SELECT o_orderkey, bx, by,
               |    CASE WHEN ry = 0 THEN
               |      (CASE WHEN rx = 1 THEN $nm1 - y ELSE y END)
               |      ELSE x END AS x,
               |    CASE WHEN ry = 0 THEN
               |      (CASE WHEN rx = 1 THEN $nm1 - x ELSE x END)
               |      ELSE y END AS y,
               |    d + ${s * s} * xor(3 * rx, ry) AS d
               |  FROM r${i + 1})""".stripMargin
      }
      sb ++= "\nSELECT o_orderkey, bx, by, d AS h FROM h8 " +
        "ORDER BY h, o_orderkey LIMIT 20"
      sb.toString
    },

    // Skilling n-D Hilbert replayed as chained column stages: one CTE
    // per (level q, axis i) inverse-undo step (invert axis 0 / exchange
    // low bits with axis 0 — both branches reference the PREVIOUS
    // stage's columns, the per-row-fold unroll rule), then Gray encode,
    // the rotation xor, and the bit interleave as one integer OR chain.
    "q_hilbert3" -> {
      val n = 3; val bits = 8
      def xs(i: Int) = s"x$i"
      val sb = new StringBuilder
      sb ++=
        """WITH g0 AS (
          |  SELECT o_orderkey, (o_custkey % 256) AS bx,
          |    (o_orderkey % 256) AS by, ((o_orderkey // 256) % 256) AS bz,
          |    (o_custkey % 256)::BIGINT AS x0,
          |    (o_orderkey % 256)::BIGINT AS x1,
          |    ((o_orderkey // 256) % 256)::BIGINT AS x2
          |  FROM orders)""".stripMargin
      var stage = 0
      for (k <- (1 until bits).reverse; i <- 0 until n) {
        val q = 1L << k; val p = q - 1
        val cols = (0 until n).map { j =>
          if (j == 0)
            s"""CASE WHEN (${xs(i)} & $q) != 0 THEN xor(x0, $p)
               |         ELSE xor(x0, xor(x0, ${xs(i)}) & $p) END AS x0"""
              .stripMargin
          else if (j == i)
            s"""CASE WHEN (${xs(i)} & $q) != 0 THEN ${xs(i)}
               |         ELSE xor(${xs(i)}, xor(x0, ${xs(i)}) & $p)
               |         END AS ${xs(i)}""".stripMargin
          else xs(j)
        }
        stage += 1
        sb ++=
          s""",
             |g$stage AS (
             |  SELECT o_orderkey, bx, by, bz,
             |    ${cols.mkString(",\n    ")}
             |  FROM g${stage - 1})""".stripMargin
      }
      // Gray encode (prefix xor of the originals), rotation xor, and the
      // interleave — axis 0 most significant at each level
      val tExpr = (1 until bits).reverse
        .map(k => s"CASE WHEN (x2 & ${1L << k}) != 0 THEN ${(1L << k) - 1} ELSE 0 END")
        .foldLeft("0::BIGINT")((acc, term) => s"xor($acc, $term)")
      val dExpr = (for {
        k <- (0 until bits).reverse
        i <- 0 until n
      } yield s"(((${xs(i)} >> $k) & 1) << ${k * n + (n - 1 - i)})")
        .mkString(" | ")
      sb ++=
        s""",
           |gg AS (
           |  SELECT o_orderkey, bx, by, bz, x0,
           |    xor(x1, x0) AS x1, xor(x2, xor(x1, x0)) AS x2
           |  FROM g$stage),
           |gt AS (SELECT *, $tExpr AS t FROM gg),
           |gf AS (
           |  SELECT o_orderkey, bx, by, bz, xor(x0, t) AS x0,
           |    xor(x1, t) AS x1, xor(x2, t) AS x2
           |  FROM gt)
           |SELECT o_orderkey, bx, by, bz, ($dExpr) AS h
           |FROM gf ORDER BY h, o_orderkey LIMIT 20""".stripMargin
      sb.toString
    },

    "q_text_nfc" ->
      s"""SELECT doc_id,
         |  nfc_normalize(text || ' $nfcSuffix') AS nfc,
         |  length(text || ' $nfcSuffix') AS n_raw,
         |  length(nfc_normalize(text || ' $nfcSuffix')) AS n_nfc
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_chunk_tokens" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x != '') AS tk
         |  FROM documents),
         |t AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0)
         |SELECT doc_id, (s // 48)::INT AS chunk_idx,
         |  array_to_string(list_slice(tk, s + 1, s + 64), ' ') AS chunk_text,
         |  len(list_slice(tk, s + 1, s + 64))::INT AS n_tokens
         |FROM t, unnest(range(0, n, 48)) AS u(s)
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    // span-corruption replay: blocks via unnest(range(...)) (lateral
    // args allowed in the unnest form), the block-offset hash is the
    // portable md5-nibble spelling, partial-block clip via
    // greatest/least; docs with zero tokens re-enter with zeros
    "q_span_corrupt" ->
      s"""WITH toks AS (
         |  SELECT doc_id, len(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x != '')) AS n
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, n, unnest(range(0, ((n - 1) // 20) + 1)) AS blk
         |  FROM toks WHERE n > 0),
         |c AS (
         |  SELECT doc_id, n,
         |    greatest(0, least(3, n - (blk * 20 +
         |      ${hash16Sql("'sc|' || doc_id::VARCHAR || '|' || blk::VARCHAR")}
         |        % 18))) AS cr
         |  FROM b),
         |a AS (
         |  SELECT doc_id, sum(cr)::BIGINT AS nc,
         |    count(*) FILTER (WHERE cr > 0)::BIGINT AS ns
         |  FROM c GROUP BY doc_id)
         |SELECT t.doc_id, t.n::BIGINT AS n_tokens,
         |  coalesce(a.ns, 0)::BIGINT AS n_spans,
         |  coalesce(a.nc, 0)::BIGINT AS n_corrupt,
         |  (t.n - coalesce(a.nc, 0))::BIGINT + coalesce(a.ns, 0)::BIGINT
         |    AS n_input_tokens,
         |  (coalesce(a.nc, 0) + coalesce(a.ns, 0))::BIGINT
         |    AS n_target_tokens
         |FROM toks t LEFT JOIN a ON t.doc_id = a.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    "q_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM documents""".stripMargin
      Seq("doc_id", "lang", "source", "n_chars").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "q_bm25_rank" -> bm25Top15OracleSql,

    // the MaxScore key runs q_bm25_rank's exhaustive top-k plan
    "q_bm25_maxscore" -> bm25Top15OracleSql,

    // serving under the persisted EXACT statistics == batch scoring —
    // identical contract, different physics (statistics maintained,
    // never re-aggregated)
    "q_bm25_served" -> bm25Top15OracleSql,

    // Dirichlet query-likelihood replay: per-(doc, query-term) smoothed
    // values in the identical operation tree, term-ordered list_reduce
    // product (first-element-seeded = Spark's 1.0-seeded fold)
    "q_ql_dirichlet" ->
      s"""WITH $qlScoreCte
         |SELECT doc_id, score FROM qls
         |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,

    // minimal-span replay: zipped parallel unnest builds the 1-based
    // positions (the phrase-search pattern), per-term running maxima as
    // windowed conditional max, least + min all-integer
    "q_prox_minspan" ->
      s"""WITH $proxSpanCte
         |SELECT doc_id, min_span, n_occ FROM pxs
         |ORDER BY doc_id""".stripMargin,

    // phrase search: zipped parallel unnest builds the 1-based postings;
    // per-term start sets intersect via USING joins (base offset
    // cancels — only doc_id/hits surface)
    "q_phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x != '') AS tk FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(tk) AS term,
        |    unnest(generate_series(1, len(tk))) AS pos
        |  FROM toks),
        |s0 AS (SELECT doc_id, pos AS start FROM p WHERE term = 'hash'),
        |s1 AS (SELECT doc_id, pos - 1 AS start FROM p WHERE term = 'join'),
        |m AS (
        |  SELECT doc_id, start FROM s0
        |  JOIN s1 USING (doc_id, start))
        |SELECT doc_id, count(*) AS hits FROM m
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_mmr_diversify" -> mmrOracleSql(n = 30, k = 10),

    "q_mmr_join" -> mmrJoinOracleSql(nQueries = 3, n = 30, k = 5),

    "q_percolate" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(lower(text), '\s+'), x -> x != '')) AS term
        |    FROM documents)),
        |qt AS (
        |  SELECT * FROM (VALUES
        |    (1, 'join', 2), (1, 'filter', 2),
        |    (2, 'window', 2), (2, 'scan', 2),
        |    (3, 'hash', 3), (3, 'merge', 3), (3, 'sort', 3),
        |    (4, 'vector', 1)) v(query_id, term, n_terms))
        |SELECT doc_id, query_id::BIGINT AS query_id
        |FROM dt JOIN qt USING (term)
        |GROUP BY doc_id, query_id, n_terms
        |HAVING count(*) = n_terms
        |ORDER BY doc_id, query_id""".stripMargin,

    // physical rewrite of q_percolate (shuffled rarest-term routing) —
    // identical match semantics; the maxDf=4000 valve replicated: a rule
    // whose rarest term (absent terms at df=0) exceeds the cap is
    // excluded in both engines
    "q_percolate_shuffled" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(lower(text), '\s+'), x -> x != '')) AS term
        |    FROM documents)),
        |qt AS (
        |  SELECT * FROM (VALUES
        |    (1, 'join', 2), (1, 'filter', 2),
        |    (2, 'window', 2), (2, 'scan', 2),
        |    (3, 'hash', 3), (3, 'merge', 3), (3, 'sort', 3),
        |    (4, 'vector', 1)) v(query_id, term, n_terms)),
        |dfreq AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
        |served AS (
        |  SELECT query_id FROM qt LEFT JOIN dfreq USING (term)
        |  GROUP BY query_id HAVING min(coalesce(df, 0)) <= 4000)
        |SELECT doc_id, query_id::BIGINT AS query_id
        |FROM dt JOIN qt USING (term)
        |JOIN served USING (query_id)
        |GROUP BY doc_id, query_id, n_terms
        |HAVING count(*) = n_terms
        |ORDER BY doc_id, query_id""".stripMargin,

    // the hybrid router serves EVERY rule (shuffled + broadcast legs),
    // so its oracle is q_percolate's full match set — no valve clause
    "q_percolate_hybrid" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(lower(text), '\s+'), x -> x != '')) AS term
        |    FROM documents)),
        |qt AS (
        |  SELECT * FROM (VALUES
        |    (1, 'join', 2), (1, 'filter', 2),
        |    (2, 'window', 2), (2, 'scan', 2),
        |    (3, 'hash', 3), (3, 'merge', 3), (3, 'sort', 3),
        |    (4, 'vector', 1)) v(query_id, term, n_terms))
        |SELECT doc_id, query_id::BIGINT AS query_id
        |FROM dt JOIN qt USING (term)
        |GROUP BY doc_id, query_id, n_terms
        |HAVING count(*) = n_terms
        |ORDER BY doc_id, query_id""".stripMargin,

    // snippet window replayed with the same 1-based clamp arithmetic:
    // lo = max(1, s0-2), 6 tokens (phrase 2 + 2x2 context), end-clamped
    "q_phrase_snippet" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x != '') AS tk FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(tk) AS term,
        |    unnest(generate_series(1, len(tk))) AS pos
        |  FROM toks),
        |s0 AS (SELECT doc_id, pos AS start FROM p WHERE term = 'hash'),
        |s1 AS (SELECT doc_id, pos - 1 AS start FROM p WHERE term = 'join'),
        |m AS (
        |  SELECT doc_id, start FROM s0
        |  JOIN s1 USING (doc_id, start)),
        |h AS (
        |  SELECT doc_id, count(*) AS hits, min(start) AS s0
        |  FROM m GROUP BY doc_id)
        |SELECT h.doc_id, h.hits,
        |  array_to_string(list_transform(
        |    generate_series(greatest(1, s0 - 2),
        |      least(len(tk), greatest(1, s0 - 2) + 5)),
        |    i -> tk[i]), ' ') AS snippet
        |FROM h JOIN toks USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // PRF expansion: feedback docs from the shared bm25 chain; lift as
    // one integer cross-product ratio, single ::DOUBLE division
    "q_query_expand" ->
      s"""WITH $bm25ScoreCte,
         |fb AS (SELECT doc_id FROM r ORDER BY score DESC, doc_id LIMIT 10),
         |ct AS (SELECT count(*) AS ct FROM toks),
         |cc AS (SELECT term, count(*) AS cn FROM toks GROUP BY term),
         |fbt AS (SELECT t.term FROM toks t JOIN fb USING (doc_id)),
         |ft AS (SELECT count(*) AS ft FROM fbt),
         |fc AS (SELECT term, count(*) AS fn FROM fbt GROUP BY term)
         |SELECT f.term,
         |  (f.fn * (SELECT ct FROM ct))::DOUBLE
         |    / ((SELECT ft FROM ft) * c.cn)::DOUBLE AS lift
         |FROM fc f JOIN cc c USING (term)
         |WHERE f.fn >= 3
         |  AND f.term NOT IN ('join', 'filter', 'window', 'scan')
         |ORDER BY lift DESC, term LIMIT 10""".stripMargin,

    // RRF: replay both runs (bm25 CTE chain + the q_cosine_topk cosine),
    // rank over the ROUNDED run scores with id tiebreaks, fuse with
    // exact 1.0/(60+rank) divisions in a fixed run order. Literals are
    // ::DOUBLE-cast (the DuckDB decimal-literal trap).
    "q_rrf_fusion" ->
      s"""WITH $bm25ScoreCte,
         |bm AS (
         |  SELECT doc_id AS id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS br
         |  FROM r QUALIFY br <= 20),
         |$qvCte,
         |cv AS (
         |  SELECT e.vec_id,
         |    round(
         |      list_sum(list_transform(generate_series(1, len(e.embedding)),
         |        i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
         |      / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
         |       * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))),
         |    6) AS cos_sim
         |  FROM embeddings e, q),
         |cvr AS (
         |  SELECT vec_id AS id,
         |    row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS cr
         |  FROM cv QUALIFY cr <= 20),
         |f AS (
         |  SELECT coalesce(bm.id, cvr.id) AS id,
         |    coalesce(1.0::DOUBLE / (60 + br), 0.0::DOUBLE)
         |      + coalesce(1.0::DOUBLE / (60 + cr), 0.0::DOUBLE) AS rrf
         |  FROM bm FULL JOIN cvr ON bm.id = cvr.id)
         |SELECT id, ${graft.functions.Rounding.floorRoundSql("rrf", 6)}
         |    AS rrf_score
         |FROM f ORDER BY rrf_score DESC, id LIMIT 10""".stripMargin,

    // 4-way fusion replay: the three text runs from their shared CTE
    // chunks, the cosine run from the q_rrf_fusion shape; chained FULL
    // JOINs on the running coalesce mirror the Spark join tree
    "q_rrf_fusion4" -> rrfFusion4Sql,

    // the exhaustive ANN-served fusion must EQUAL the brute-force
    // fusion — IDENTICAL oracle SQL (the q_graph_join_exhaustive proof
    // pattern composed through the fusion)
    "q_rrf_fusion_ann_exhaustive" -> rrfFusion4Sql,

    "q_outlier_iqr" ->
      s"""WITH h AS (
         |  SELECT o_orderpriority, o_orderkey, o_totalprice,
         |    ${hash32Sql("o_orderkey::VARCHAR")} AS hv FROM orders),
         |r AS (
         |  SELECT o_orderpriority, o_totalprice,
         |    row_number() OVER (PARTITION BY o_orderpriority
         |      ORDER BY hv, o_orderkey) AS rn
         |  FROM h),
         |s AS (
         |  SELECT o_orderpriority,
         |    list(o_totalprice ORDER BY o_totalprice) AS vals
         |  FROM r WHERE rn <= 64 GROUP BY o_orderpriority),
         |b AS (
         |  SELECT o_orderpriority,
         |    vals[greatest(1, ceil(0.25 * len(vals))::INT)] AS p25,
         |    vals[greatest(1, ceil(0.75 * len(vals))::INT)] AS p75
         |  FROM s),
         |f AS (
         |  SELECT o_orderpriority, p75 + (p75 - p25) * 0.5 AS hi,
         |         p25 - (p75 - p25) * 0.5 AS lo FROM b)
         |SELECT o.o_orderpriority, count(*) AS n_outliers,
         |  max(o.o_totalprice) AS max_out
         |FROM orders o JOIN f USING (o_orderpriority)
         |WHERE o.o_totalprice > f.hi OR o.o_totalprice < f.lo
         |GROUP BY o.o_orderpriority
         |ORDER BY o.o_orderpriority""".stripMargin,

    "q_sketch_quantile" ->
      s"""WITH h AS (
         |  SELECT o_orderpriority, o_orderkey, o_totalprice,
         |    ${hash32Sql("o_orderkey::VARCHAR")} AS hv FROM orders),
         |r AS (
         |  SELECT o_orderpriority, o_totalprice,
         |    row_number() OVER (PARTITION BY o_orderpriority
         |      ORDER BY hv, o_orderkey) AS rn
         |  FROM h),
         |s AS (
         |  SELECT o_orderpriority,
         |    list(o_totalprice ORDER BY o_totalprice) AS vals
         |  FROM r WHERE rn <= 64 GROUP BY o_orderpriority)
         |SELECT o_orderpriority, len(vals)::INT AS n_sample,
         |  vals[greatest(1, ceil(0.25 * len(vals))::INT)] AS p25,
         |  vals[greatest(1, ceil(0.5 * len(vals))::INT)] AS p50,
         |  vals[greatest(1, ceil(0.75 * len(vals))::INT)] AS p75
         |FROM s ORDER BY o_orderpriority""".stripMargin,

    "q_median_manual" ->
      """WITH r AS (
        |  SELECT lang, n_chars, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents)
        |SELECT lang, n_chars AS median_chars FROM r
        |WHERE rn = (cnt + 1) // 2 ORDER BY lang""".stripMargin,

    "q_knn_join" -> knnJoinOracleSql,

    // threshold-form hard negatives: normalize-first + squared-L2 (the
    // q_semantic_dedup_exhaustive float path — replays the native
    // kernel exactly), threshold BELOW the near-dup line, ranked per
    // anchor
    "q_hard_negatives_cos" -> {
      val cosSql = graft.functions.Rounding.floorRoundSql(
        """1.0 - list_sum(list_transform(generate_series(1, len(e.embedding)),
          |      i -> (e.embedding[i]::DOUBLE / e.nrm - q.qe[i]::DOUBLE / q.qn)
          |         * (e.embedding[i]::DOUBLE / e.nrm - q.qe[i]::DOUBLE / q.qn))) / 2"""
          .stripMargin, 6)
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      t -> t::DOUBLE * t::DOUBLE))) AS nrm
         |  FROM embeddings),
         |q AS (
         |  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
         |  FROM e WHERE vec_id < 10),
         |p AS (
         |  SELECT q.query_id, e.vec_id AS match_id, $cosSql AS cos_sim
         |  FROM q, e),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_sim DESC, match_id) AS rn
         |  FROM p WHERE cos_sim < 0.4::DOUBLE)
         |SELECT query_id, match_id, cos_sim, rn FROM r
         |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin
    },

    // exhaustive-probe IVF join must equal brute force — same oracle
    "q_knn_join_exhaustive" -> knnJoinOracleSql,

    // exhaustive-beam graph join must equal brute force — same oracle
    "q_graph_join_exhaustive" -> knnJoinOracleSql,

    // the four persisted-index SERVING shapes under exhaustive
    // parameters are each semantically brute force — all held to the
    // identical brute-force oracle (the q_knn_bruteforce SQL with the
    // label column)
    "q_ann_ivf_exhaustive" -> annServeExhaustiveOracleSql,
    "q_ann_graph_exhaustive" -> annServeExhaustiveOracleSql,
    "q_ann_pq_exhaustive" -> annServeExhaustiveOracleSql,
    "q_ann_ivfpq_exhaustive" -> annServeExhaustiveOracleSql,

    "q_pack_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x != '')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, cum_tokens,
        |  ((cum_tokens - n_tokens) // 1000)::BIGINT AS bin
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  ['png', 'jpg', 'wav'][(doc_id % 3 + 1)::INT] AS format,
        |  octet_length(encode(text))::BIGINT AS n_bytes,
        |  (octet_length(encode(text)) % 640 + 1)::BIGINT AS width,
        |  ((octet_length(encode(text)) * 7) % 480 + 1)::BIGINT AS height,
        |  (octet_length(encode(text)) % 24 + 1)::BIGINT AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_pagerank" -> pagerankOracleSql,

    "q_label_prop" -> labelPropOracleSql,

    // c-TF-IDF labeling over the SAME unrolled LPA chain; score =
    // ctf · C / cdf rational (the q_tfidf_top_terms form at the
    // community grain)
    "q_community_terms" ->
      s"""WITH $labelPropCteSql,
         |ctoks AS (
         |  SELECT c.community, unnest(list_filter(
         |    string_split_regex(lower(d.text), '\\s+'), x -> x != ''))
         |    AS term
         |  FROM documents d JOIN comm c USING (doc_id)),
         |ctf AS (
         |  SELECT community, term, count(*) AS ctf FROM ctoks
         |  GROUP BY community, term),
         |cdfreq AS (
         |  SELECT term, count(*) AS cdf FROM ctf GROUP BY term),
         |ncc AS (SELECT count(DISTINCT community) AS nc FROM comm),
         |scored AS (
         |  SELECT t.community, t.term,
         |    ${graft.functions.Rounding.floorRoundSql(
              "t.ctf * (SELECT nc FROM ncc)::DOUBLE / f.cdf", 6)} AS score
         |  FROM ctf t JOIN cdfreq f USING (term)),
         |r AS (
         |  SELECT community, term, score,
         |    row_number() OVER (PARTITION BY community
         |      ORDER BY score DESC, term) AS rn
         |  FROM scored)
         |SELECT community, term, score, rn FROM r WHERE rn <= 3""".stripMargin,

    // triangle census: same edge replay, degree orientation via tuple
    // comparison, wedge pairs joined against the (unique) up-rank
    // closing orientation; ork is referenced 3x -> MATERIALIZED
    "q_graph_triangles" ->
      s"""WITH $linkEdgeCteSql,
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM e WHERE src <> dst),
         |deg AS (SELECT nd, count(*) AS dg FROM (
         |    SELECT a AS nd FROM und UNION ALL SELECT b AS nd FROM und)
         |  GROUP BY nd),
         |ed AS (
         |  SELECT und.a, und.b, x.dg AS da, y.dg AS db
         |  FROM und JOIN deg x ON x.nd = und.a JOIN deg y ON y.nd = und.b),
         |ork AS MATERIALIZED (
         |  SELECT CASE WHEN (da, a) < (db, b) THEN a ELSE b END AS u,
         |         CASE WHEN (da, a) < (db, b) THEN b ELSE a END AS w,
         |         CASE WHEN (da, a) < (db, b) THEN db ELSE da END AS dw
         |  FROM ed),
         |tri AS (
         |  SELECT count(*) AS t FROM ork x
         |  JOIN ork y ON x.u = y.u AND (x.dw, x.w) < (y.dw, y.w)
         |  JOIN ork z ON z.u = x.w AND z.w = y.w),
         |wd AS (SELECT sum(dg * (dg - 1) // 2)::BIGINT AS w FROM deg)
         |SELECT t AS n_triangles, w AS n_wedges,
         |  CASE WHEN w = 0 THEN 0.0::DOUBLE
         |       ELSE (3 * t)::DOUBLE / w::DOUBLE END AS global_cc
         |FROM tri, wd""".stripMargin,

    "q_dense_ids" ->
      """SELECT doc_id, lang,
        |  (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT AS label_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the Spark side diffs (id, xxhash64 digest) pairs; the oracle
    // compares contents directly — digest equality and content equality
    // agree, so the classification hash-matches
    "q_snapshot_diff" ->
      """WITH mx AS (SELECT max(doc_id) + 1 AS s FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 2 THEN text || ' v2' ELSE text END AS text,
        |    lang, source FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + (SELECT s FROM mx), text, lang, source
        |  FROM documents WHERE doc_id % 13 = 5),
        |o AS (SELECT doc_id, text, lang, source FROM documents),
        |diff AS (
        |  SELECT COALESCE(o.doc_id, v2.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN v2.doc_id IS NULL THEN 'removed'
        |         WHEN o.text IS NOT DISTINCT FROM v2.text
        |          AND o.lang IS NOT DISTINCT FROM v2.lang
        |          AND o.source IS NOT DISTINCT FROM v2.source
        |           THEN 'unchanged'
        |         ELSE 'changed' END AS change
        |  FROM o FULL OUTER JOIN v2 ON o.doc_id = v2.doc_id)
        |SELECT doc_id, change FROM diff WHERE change <> 'unchanged'
        |ORDER BY doc_id, change""".stripMargin,

    // physical layout change only: the incremental form diffs against
    // the persisted bucketed digest table, output identical to the
    // one-shot diff — same oracle
    "q_snapshot_diff_inc" ->
      """WITH mx AS (SELECT max(doc_id) + 1 AS s FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 2 THEN text || ' v2' ELSE text END AS text,
        |    lang, source FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + (SELECT s FROM mx), text, lang, source
        |  FROM documents WHERE doc_id % 13 = 5),
        |o AS (SELECT doc_id, text, lang, source FROM documents),
        |diff AS (
        |  SELECT COALESCE(o.doc_id, v2.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN v2.doc_id IS NULL THEN 'removed'
        |         WHEN o.text IS NOT DISTINCT FROM v2.text
        |          AND o.lang IS NOT DISTINCT FROM v2.lang
        |          AND o.source IS NOT DISTINCT FROM v2.source
        |           THEN 'unchanged'
        |         ELSE 'changed' END AS change
        |  FROM o FULL OUTER JOIN v2 ON o.doc_id = v2.doc_id)
        |SELECT doc_id, change FROM diff WHERE change <> 'unchanged'
        |ORDER BY doc_id, change""".stripMargin,

    // the Spark side ENCODES a real PNG/JPEG per doc and DECODES it back
    // with javax.imageio; dims are a pure function of doc_id, so this
    // arithmetic oracle hash-verifies the codec round trip
    "q_multimodal_decode" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpg' END AS format,
        |  (doc_id % 64 + 8)::BIGINT AS width,
        |  ((doc_id * 7) % 48 + 8)::BIGINT AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    // aHash replay over the id-derived PNG pixels: the exact generator
    // arithmetic (24-bit mask), 8x8 block sums, integer cross-multiplied
    // mean test, halves summed below 2^32
    "q_image_phash" ->
      s"""WITH d AS (
         |  SELECT doc_id, doc_id AS seed,
         |    (doc_id % 64 + 8)::BIGINT AS w,
         |    ((doc_id * 7) % 48 + 8)::BIGINT AS h,
         |    -1::BIGINT AS tx, -1::BIGINT AS ty
         |  FROM documents WHERE doc_id % 2 = 0),
         |$phashCteSql
         |SELECT doc_id, phash_hi, phash_lo FROM ph
         |ORDER BY doc_id""".stripMargin,

    // folded-seed twins + one-pixel tweak, grouped by perceptual hash
    "q_image_phash_dedup" ->
      s"""WITH d AS (
         |  SELECT doc_id, (doc_id % 100) AS seed,
         |    ((doc_id % 100) % 64 + 8)::BIGINT AS w,
         |    (((doc_id % 100) * 7) % 48 + 8)::BIGINT AS h,
         |    ((doc_id * 13) % ((doc_id % 100) % 64 + 8))::BIGINT AS tx,
         |    ((doc_id * 29) % (((doc_id % 100) * 7) % 48 + 8))::BIGINT AS ty
         |  FROM documents),
         |$phashCteSql
         |SELECT phash_hi, phash_lo, count(*)::BIGINT AS n_docs,
         |  min(doc_id) AS keep_id
         |FROM ph GROUP BY phash_hi, phash_lo
         |ORDER BY keep_id""".stripMargin,

    "q_multimodal_audio" ->
      """SELECT doc_id,
        |  8000::BIGINT AS sample_rate,
        |  1::BIGINT AS n_channels,
        |  (doc_id % 400 + 100)::BIGINT AS n_samples,
        |  ((doc_id % 400 + 100) * 125)::BIGINT AS duration_us
        |FROM documents ORDER BY doc_id""".stripMargin,

    // dims/frame count id-derived by attachVideoPayload; fps 10 =>
    // duration_us = n_frames * 100_000
    "q_multimodal_video" ->
      """SELECT doc_id,
        |  (doc_id % 4 + 1)::BIGINT AS n_frames,
        |  (doc_id % 32 + 16)::BIGINT AS width,
        |  ((doc_id * 5) % 32 + 16)::BIGINT AS height,
        |  ((doc_id % 4 + 1) * 100000)::BIGINT AS duration_us
        |FROM documents ORDER BY doc_id""".stripMargin,

    // dims/frame count id-derived by attachDeltaVideoPayload; the Spark
    // side reconstructs every frame from the delta bitstream under CRC —
    // this arithmetic oracle hash-verifies the inter-frame round trip
    "q_multimodal_video2" ->
      """SELECT doc_id,
        |  (doc_id % 4 + 2)::BIGINT AS n_frames,
        |  (doc_id % 32 + 16)::BIGINT AS width,
        |  ((doc_id * 5) % 32 + 16)::BIGINT AS height,
        |  ((doc_id % 4 + 2) * 100000)::BIGINT AS duration_us
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_multimodal_frames" ->
      """WITH m AS (
        |  SELECT doc_id, ['png', 'jpg', 'wav'][(doc_id % 3 + 1)::INT] AS format,
        |    (octet_length(encode(text)) % 24 + 1)::BIGINT AS n_frames
        |  FROM documents)
        |SELECT doc_id, format,
        |  unnest(range(0, n_frames, 4))::BIGINT AS frame_idx
        |FROM m ORDER BY doc_id, frame_idx""".stripMargin,

    "q_multimodal_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (octet_length(encode(text)) % 640 + 1)::BIGINT AS width,
        |    ((octet_length(encode(text)) * 7) % 480 + 1)::BIGINT AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |  (width * 224 // greatest(width, height))::BIGINT AS new_width,
        |  (height * 224 // greatest(width, height))::BIGINT AS new_height
        |FROM m ORDER BY doc_id""".stripMargin
  )
}

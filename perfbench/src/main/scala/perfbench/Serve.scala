package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Ann, Knn, Pq}
import graft.sources.HrPipeline

/** The `recommend` workload: the HR read path over a store built in
  * set-up. Each request embeds a posting text and is served by the
  * recommend spine, an IVF top-k or a refined PQ top-k; a plain-Scala
  * brute-force oracle over the collected collection checks every answer.
  * One op is a burst of four requests, one per slot of `Gen.kinds`. */
object Serve {
  val K = 10
  val NProbe = 4
  /** Bursts served in set-up, before timing. The first bursts of a
    * session pay the JIT and codegen warm-up: on a 4-vCPU VM a burst took
    * 1.5–2.4 s first, 0.8 s at the 10th and levelled out near 0.6 s from
    * about the 30th. Twenty warm bursts instead of ten cost 10 s a run and
    * did not narrow the spread between runs, which host drift sets. */
  val WarmBursts = 10

  /** One stored document, as the brute-force oracle sees it. */
  final case class Doc(id: String, docType: String, department: String,
                       searchText: String, vec: Array[Float])

  final case class Hit(id: String, dist: Double)

  def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Left-to-right double accumulation, as the engine's L2 kernel. */
  def l2(v: Array[Float], q: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < v.length) { val d = v(i).toDouble - q(i); acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  def exactTopK(docs: Seq[Doc], q: Array[Double], k: Int): Seq[Hit] =
    docs.map(d => Hit(d.id, round6(l2(d.vec, q))))
      .sortBy(h => (h.dist, h.id)).take(k)

  /** The recommend spine in plain Scala: overfetch the nearest
    * `Knn.overfetch(k)` of the doc type, keep the department, score one
    * reason each for department and keyword match, rank by (reasons desc,
    * dist, id). Returns (id, dist, match_count). */
  def oracleRecommend(docs: Seq[Doc], req: Gen.Request, q: Array[Double],
                      k: Int): Seq[(String, Double, Int)] = {
    val kw = req.text.split("\\s+").map(_.trim.toLowerCase).filter(_.length > 2)
    val typed = docs.filter(_.docType == req.docType)
    val byId = typed.map(d => d.id -> d).toMap
    exactTopK(typed, q, Knn.overfetch(k))
      .filter(h => byId(h.id).department.toLowerCase == req.department.toLowerCase)
      .map { h =>
        val hit = if (kw.exists(byId(h.id).searchText.contains)) 1 else 0
        (h.id, h.dist, 1 + hit)
      }
      .sortBy { case (id, d, m) => (-m, d, id) }.take(k)
  }

  def collectDocs(coll: DataFrame): IndexedSeq[Doc] = {
    val nz = (c: String) => coalesce(col(c), lit(""))
    coll.select(col("id"), col("doc_type"), col("department"),
        when(col("doc_type") === "employee", lower(nz("projects")))
          .otherwise(lower(concat(nz("responsibilities"), lit(" "),
            nz("description")))),
        col("embedding"))
      .collect().map(r => Doc(r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getSeq[Float](4).toArray)).toIndexedSeq
  }

  /** Rows the plan's file scans produced (after partition pruning). */
  def scannedRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scannedRows(a.executedPlan)
    case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case o => o.children.map(scannedRows).sum
  }

  final class Store(val dir: Path, val model: Pq.PqModel,
                    val ivfData: DataFrame, val cents: DataFrame,
                    val pq: DataFrame)

  def embed(c: Ctx, text: String): Array[Double] = c.span("HrPipeline.embed") {
    c.spark.range(1)
      .select(HrPipeline.featureHashEmbedding(lit(text), IndexBuild.Dim))
      .head().getSeq[Float](0).map(_.toDouble).toArray
  }

  final case class Served(hits: Seq[Hit], matchCounts: Seq[Int], scanned: Long)

  def serve(c: Ctx, s: Store, req: Gen.Request, q: Array[Double],
            nProbe: Int = NProbe): Served = req.kind match {
    case "recommend" =>
      val coll = c.span("Tables.load") { Tables.load(c.spark, s.dir.toString, "collection") }
      val df = c.span("HrPipeline.recommend_call") {
        HrPipeline.recommend(coll, req.text, q.toSeq, k = K,
          departmentFilter = Some(req.department),
          targetDocType = Some(req.docType))
      }
      val rows = c.span("HrPipeline.recommend_exec") { df.collect() }
      Served(rows.map(r => Hit(r.getAs[String]("id"), r.getAs[Double]("dist"))).toSeq,
        rows.map(_.getAs[Int]("match_count")).toSeq, 0L)
    case "ivf" =>
      val df = c.span("Ann.probe") {
        Ann.ivfTopK(s.ivfData.filter(col("doc_type") === req.docType),
          col("cell"), col("embedding"), s.cents, q.toSeq, K, nProbe, tieBreak = "id")
      }
      val top = df.select("id", "dist")
      val rows = c.span("Ann.ivf_exec") { top.collect() }
      Served(rows.map(r => Hit(r.getString(0), r.getDouble(1))).toSeq, Nil,
        if (c.tracer.active) scannedRows(top.queryExecution.executedPlan) else 0L)
    case "pq" =>
      val rows = c.span("Pq.topk_refined") {
        Pq.pqTopKRefined(s.pq.filter(col("doc_type") === req.docType),
          col("codes"), col("embedding"), s.model, q.toSeq, K, tieBreak = "id")
          .select("id", "dist").collect()
      }
      Served(rows.map(r => Hit(r.getString(0), r.getDouble(1))).toSeq, Nil, 0L)
  }

  /** Exact requests must equal the oracle. Approximate ones must return
    * distinct stored ids of the requested type at their true distances,
    * in (dist, id) order, and refined PQ must return k of them. Returns
    * (problems, recall against the exact top-k). */
  def check(docs: IndexedSeq[Doc], req: Gen.Request, q: Array[Double], got: Served):
      (Seq[String], Option[Double]) = req.kind match {
    case "recommend" =>
      val want = oracleRecommend(docs, req, q, K)
      val have = got.hits.zip(got.matchCounts).map { case (h, m) => (h.id, h.dist, m) }
      (Option.when(have != want)(
        s"recommend mismatch: got ${have.take(3)}… want ${want.take(3)}…").toSeq, None)
    case _ =>
      val typed = docs.filter(_.docType == req.docType)
      val exact = exactTopK(typed, q, K)
      val byId = typed.map(d => d.id -> d).toMap
      val bad = got.hits.filter(h => !byId.get(h.id).exists(d => round6(l2(d.vec, q)) == h.dist))
      // IVF filters after probing, so a rare doc type can leave fewer
      // than k hits in the probed cells; refined PQ ranks the filtered rows
      val want = if (req.kind == "pq") math.min(K, typed.length) else 0
      val ids = got.hits.map(_.id)
      val problems =
        Option.when(ids.distinct.length != ids.length || ids.length > K || ids.length < want)(
          s"${req.kind} returned ${ids.length} hits (${ids.distinct.length} distinct)") ++
          Option.when(bad.nonEmpty)(s"${req.kind} hit ${bad.head} is not a ${req.docType} at its true distance") ++
          Option.when(got.hits != got.hits.sortBy(h => (h.dist, h.id)))(
            s"${req.kind} hits are not in (dist, id) order")
      val recall = got.hits.map(_.id).toSet.intersect(exact.map(_.id).toSet).size /
        math.max(1.0, exact.length.toDouble)
      (problems.toSeq, Some(recall))
  }

  /** Open the store a build wrote: the collection, the IVF index and the
    * PQ codes, with the PQ model the build trained. */
  def open(c: Ctx, dir: Path, model: Pq.PqModel): Store = {
    val (data, cents) = c.span("Ann.read_index") {
      Ann.readIvfIndex(c.spark, dir.resolve("ivf").toString)
    }
    val pq = c.span("Tables.load") { Tables.load(c.spark, dir.toString, "pq") }
    new Store(dir, model, data, cents, pq)
  }

  /** What the timed bursts accumulate, committed only for bursts whose
    * checks pass. */
  final class Tally {
    val latencies = mutable.ArrayBuffer[Double]()
    val recalls = mutable.ArrayBuffer[Double]()
    val scanFrac = mutable.ArrayBuffer[Double]()
  }

  /** One op: serve a burst of requests, each embedded and served back to
    * back. The returned check runs after the op's wall is taken: every
    * answer against the oracle and, with `exhaustive` set, the burst's IVF
    * request again with every cell probed, which must equal the exact
    * top-k. */
  def burst(c: Ctx, store: Store, docs: IndexedSeq[Doc], reqs: Seq[Gen.Request],
            tally: Option[Tally], exhaustive: Boolean): () => Seq[String] = {
    val served = reqs.map { req =>
      val t0 = System.nanoTime()
      val q = embed(c, req.text)
      val got = serve(c, store, req, q)
      (req, q, got, (System.nanoTime() - t0) / 1e9)
    }
    () => {
      val checked = served.map { case (req, q, got, _) => check(docs, req, q, got) }
      val probedAll = served.filter(_ => exhaustive).find(_._1.kind == "ivf").toSeq.flatMap {
        case (req, q, _, _) =>
          val all = serve(c, store, req, q, nProbe = IndexBuild.Cells).hits
          val exact = exactTopK(docs.filter(_.docType == req.docType), q, K)
          Option.when(all != exact)(
            s"IVF at nProbe=${IndexBuild.Cells} differs from exact: ${all.take(3)} vs ${exact.take(3)}")
      }
      val problems = checked.flatMap(_._1) ++ probedAll
      if (problems.isEmpty) tally.foreach { t =>
        t.latencies ++= served.map(_._4)
        t.recalls ++= checked.flatMap(_._2)
        t.scanFrac ++= served.filter(_._3.scanned > 0)
          .map(_._3.scanned.toDouble / docs.length)
      }
      problems
    }
  }

  /** Set-up builds the store (build, match and refresh, once each, each
    * checked) and serves the warm bursts, each with the exhaustive IVF
    * check; the timed region serves bursts. */
  def run(c: Ctx, sessionS: Double): (String, () => DataFrame) = {
    val (genS, in) = IndexBuild.generate(c)
    val out = c.runDir.resolve("out")
    require(!Files.exists(out), "build output dir not empty before the build")
    var b: IndexBuild.Built = null
    val buildS = c.once("build") {
      b = IndexBuild.build(c, in, out.resolve("build"))
      () => IndexBuild.checkBuild(c, in, b)
    }
    val matchS = c.once("match") {
      IndexBuild.matchAll(c, b.dir, out.resolve("match"))
      () => IndexBuild.checkMatch(c, in, out.resolve("match"))
    }
    val refreshS = c.once("refresh") {
      val needs = IndexBuild.refresh(c, in, b.dir, out.resolve("refresh"))
      () => IndexBuild.checkRefresh(c, in, out.resolve("refresh"), needs)
    }
    val bytes = Seq("collection.parquet", "ivf", "pq.parquet")
      .map(p => c.bytesUnder(b.dir.resolve(p))).sum
    val docs = collectDocs(Tables.load(c.spark, b.dir.toString, "collection"))
    val store = open(c, b.dir, b.model)
    val reqs = Gen.requests(c.seed, 4000).grouped(Gen.kinds.length)
    val warmS = (0 until WarmBursts).map(_ =>
      c.once("warm")(burst(c, store, docs, reqs.next(), None, exhaustive = true))).sum
    c.log(f"set-up: session $sessionS%.1f s, generation $genS%.1f s, build $buildS%.1f s, " +
      f"match $matchS%.1f s, refresh $refreshS%.1f s, warm bursts $warmS%.1f s")
    c.report.e2e("setup_s", sessionS + genS + buildS + matchS + refreshS + warmS, "s", 1)
    c.report.e2e("disk_bytes_per_doc", bytes.toDouble / (in.nEmp + in.nJob), "B", 1)
    c.report.layer("op.build_s", buildS, "s", 1)
    c.report.layer("op.match_s", matchS, "s", 1)
    c.report.layer("op.refresh_s", refreshS, "s", 1)

    val t = new Tally
    c.heap.reset()
    val ops = c.timed("burst", c.seconds)(_ => burst(c, store, docs, reqs.next(), Some(t), exhaustive = false))
    c.report.e2e("op_p50_ms", Stats.median(ops) * 1000, "ms", ops.length)
    c.heap.report(ops.length)
    c.report.layer("op.serve_s", Stats.median(ops), "s", ops.length)
    if (t.latencies.nonEmpty) {
      val (p, tail) = Stats.tail(t.latencies.toSeq)
      c.report.layer("rec.p50_ms", Stats.median(t.latencies.toSeq) * 1000, "ms", t.latencies.length)
      c.report.layer("rec.tail_ms", tail * 1000, "ms", t.latencies.length)
      c.report.layer("rec.tail_pct", p, "%", t.latencies.length)
    }
    if (t.recalls.nonEmpty)
      c.report.layer("ann_recall_at_10", t.recalls.sum / t.recalls.length, "frac", t.recalls.length)
    if (t.scanFrac.nonEmpty)
      c.report.layer("Ann.scan_frac", Stats.median(t.scanFrac.toSeq), "frac", t.scanFrac.length)
    ("burst", () => IndexBuild.texts(c, in))
  }
}

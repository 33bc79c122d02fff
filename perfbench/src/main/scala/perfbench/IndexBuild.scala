package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Ann, Knn, Pq}
import graft.sources.HrPipeline

/** The HR write path: JSON → collection → IVF and PQ indexes, the batch
  * posting → talent match, and the incremental refresh. The `recommend`
  * workload runs each once in set-up and serves from the store they
  * write (`Serve`). */
object IndexBuild {
  val Employees = 3000
  val Jobs = 84
  val Dim = 64
  val Cells = 32
  val PqM = 8
  val PqKs = 16
  val MatchK = 10

  final case class Built(dir: Path, model: Pq.PqModel)

  /** One build: ingest, collection write, IVF (k-means, assign,
    * partitioned write; the steps of `Ann.buildIvfIndex`, called one by
    * one so each is timed), PQ train and encode plus a write. */
  def build(c: Ctx, in: Gen.HrInputs, out: Path): Built = {
    val spark = c.spark
    val (emp, jobs) = c.span("HrPipeline.load") {
      (HrPipeline.loadEmployees(spark, in.dir.toString),
        HrPipeline.loadJobs(spark, in.dir.toString))
    }
    val coll = c.span("HrPipeline.collection") {
      HrPipeline.collection(emp, jobs, Dim)
    }
    c.span("HrPipeline.collection_write") {
      HrPipeline.writeCollection(coll, out.resolve("collection.parquet").toString)
    }
    val stored = c.span("Tables.load") { Tables.load(spark, out.toString, "collection") }
    val ivf = out.resolve("ivf")
    val cents = c.span("Ann.kmeans") {
      Ann.kmeansCentroids(stored, col("id"), col("embedding"), Cells)
    }
    val assigned = c.span("Ann.assign") {
      Ann.assignCells(stored, col("id"), col("embedding"), cents)
    }
    c.span("Ann.write_partitioned") {
      Ann.writePartitioned(assigned, ivf.resolve("data").toString)
    }
    c.span("Ann.write_centroids") {
      cents.coalesce(1).write.mode("overwrite")
        .parquet(ivf.resolve("centroids").toString)
    }
    val model = c.span("Pq.train") {
      Pq.trainCodebooks(stored, col("id"), col("embedding"), PqM, PqKs)
    }
    c.span("Pq.encode") {
      Pq.encode(stored, col("embedding"), model)
        .select("id", "doc_type", "codes", "embedding")
        .write.mode("overwrite").parquet(out.resolve("pq.parquet").toString)
    }
    Built(out, model)
  }

  /** Row counts, exactly one cell per row, and codes of length m. */
  def checkBuild(c: Ctx, in: Gen.HrInputs, b: Built): Seq[String] = {
    val spark = c.spark
    val n = in.nEmp + in.nJob
    val coll = Tables.load(spark, b.dir.toString, "collection")
      .agg(count(lit(1)), countDistinct(col("id")), min(size(col("embedding"))))
      .head()
    val (data, cents) = Ann.readIvfIndex(spark, b.dir.resolve("ivf").toString)
    val ivf = data.agg(count(lit(1)), countDistinct(col("id")),
      count(col("cell")), min(col("cell")), max(col("cell"))).head()
    val pq = Tables.load(spark, b.dir.toString, "pq")
      .agg(count(lit(1)), min(size(col("codes"))), max(size(col("codes"))),
        min(array_min(col("codes"))), max(array_max(col("codes")))).head()
    Seq(
      Option.when(coll.getLong(0) != n || coll.getLong(1) != n)(
        s"collection has ${coll.getLong(0)} rows / ${coll.getLong(1)} ids, expected $n"),
      Option.when(coll.getInt(2) != Dim)(s"embedding dim ${coll.getInt(2)} != $Dim"),
      Option.when(ivf.getLong(0) != n || ivf.getLong(1) != n || ivf.getLong(2) != n)(
        s"IVF data has ${ivf.getLong(0)} rows, ${ivf.getLong(1)} ids, " +
          s"${ivf.getLong(2)} cells assigned, expected $n each"),
      Option.when(ivf.getInt(3) < 0 || ivf.getInt(4) >= Cells)(
        s"IVF cells outside 0..${Cells - 1}"),
      Option.when(cents.count() != Cells)(s"IVF has ${cents.count()} centroids"),
      Option.when(pq.getLong(0) != n)(s"PQ store has ${pq.getLong(0)} rows, expected $n"),
      Option.when(pq.getInt(1) != PqM || pq.getInt(2) != PqM)(
        s"PQ codes length ${pq.getInt(1)}..${pq.getInt(2)}, expected $PqM"),
      Option.when(pq.getInt(3) < 0 || pq.getInt(4) >= PqKs)(
        s"PQ codes outside 0..${PqKs - 1}")
    ).flatten
  }

  /** Every posting against every employee, top-k, written out. */
  def matchAll(c: Ctx, built: Path, out: Path): Unit = {
    val stored = c.span("Tables.load") { Tables.load(c.spark, built.toString, "collection") }
    val jobs = stored.filter(col("doc_type") === "job")
    val emps = stored.filter(col("doc_type") === "employee")
    // the batch join keys on numbers: the numeric tail of EMP…/JOB… ids
    val num = substring(col("id"), 4, 16).cast("long")
    c.span("Knn.join") {
      Knn.knnJoin(jobs, num, col("embedding"), emps, num, col("embedding"), MatchK)
        .write.mode("overwrite").parquet(out.toString)
    }
  }

  def checkMatch(c: Ctx, in: Gen.HrInputs, out: Path): Seq[String] = {
    val r = c.spark.read.parquet(out.toString)
      .agg(count(lit(1)), countDistinct(col("query_id")), min(col("rn")),
        max(col("rn"))).head()
    val k = math.min(MatchK, in.nEmp)
    Seq(
      Option.when(r.getLong(0) != in.nJob.toLong * k || r.getLong(1) != in.nJob)(
        s"match has ${r.getLong(0)} rows for ${r.getLong(1)} postings, " +
          s"expected ${in.nJob} × $k"),
      Option.when(r.getInt(2) != 1 || r.getInt(3) != k)(
        s"match ranks ${r.getInt(2)}..${r.getInt(3)}, expected 1..$k")
    ).flatten
  }

  /** Change detection against the new source, then upsert of the delta
    * into the stored collection, rewritten. Returns needsRebuild. */
  def refresh(c: Ctx, in: Gen.HrInputs, built: Path, out: Path): Boolean = {
    val spark = c.spark
    val (delta, deltaJobs, emp, jobs) = c.span("HrPipeline.load") {
      (HrPipeline.loadEmployees(spark, in.deltaDir.toString),
        HrPipeline.loadJobs(spark, in.deltaDir.toString),
        HrPipeline.loadEmployees(spark, in.dir.toString),
        HrPipeline.loadJobs(spark, in.dir.toString))
    }
    val collDir = built.resolve("collection.parquet").toString
    val needs = c.span("HrPipeline.needs_rebuild") {
      HrPipeline.needsRebuild(spark, collDir,
        HrPipeline.upsertByKey(emp, delta), jobs)
    }
    val stored = c.span("Tables.load") { Tables.load(spark, built.toString, "collection") }
    c.span("HrPipeline.upsert") {
      val merged =
        HrPipeline.upsertByKey(stored, HrPipeline.collection(delta, deltaJobs, Dim))
      c.span("HrPipeline.collection_write") {
        HrPipeline.writeCollection(merged, out.resolve("collection.parquet").toString)
      }
    }
    needs
  }

  def checkRefresh(c: Ctx, in: Gen.HrInputs, out: Path,
                   needs: Boolean): Seq[String] = {
    val n = in.nEmp + in.nJob + in.nNew
    val r = Tables.load(c.spark, out.toString, "collection")
      .agg(count(lit(1)), countDistinct(col("id")),
        count(when(col("profile_summary").contains("(개정 1)"), 1))).head()
    Seq(
      Option.when(!needs)("needsRebuild missed a changed source"),
      Option.when(r.getLong(0) != n || r.getLong(1) != n)(
        s"refreshed collection has ${r.getLong(0)} rows / ${r.getLong(1)} ids, expected $n"),
      Option.when(r.getLong(2) != in.nChanged)(
        s"${r.getLong(2)} changed records applied, expected ${in.nChanged}")
    ).flatten
  }

  def inputs(c: Ctx, root: Path): Gen.HrInputs =
    c.span("Gen.hr") {
      Gen.hr(c.seed, root, Employees, Jobs, shards = math.max(8, c.cpus))
    }

  /** The posting and talent texts, for the kernel-rate measurements. */
  def texts(c: Ctx, in: Gen.HrInputs): DataFrame =
    HrPipeline.collectionDocs(HrPipeline.loadEmployees(c.spark, in.dir.toString),
      HrPipeline.loadJobs(c.spark, in.dir.toString)).select("document")

  /** Generate the inputs three times; the median wall is the set-up's
    * generation share, and the last copy is used. */
  def generate(c: Ctx): (Double, Gen.HrInputs) = {
    val rounds = (0 until 3).map { r =>
      val t0 = System.nanoTime()
      val in = inputs(c, c.dir(s"in-$r"))
      ((System.nanoTime() - t0) / 1e9, in)
    }
    (Stats.median(rounds.map(_._1)), rounds.last._2)
  }
}

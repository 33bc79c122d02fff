package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Knn

/** Reference-parity HR document pipeline: JSON ingest → doc-text
  * serialization → metadata flattening → tagged union → embedding-ready
  * collection → recommendation query.
  *
  * Faithful re-expression (not a port) of the reference's dataflow:
  *  - ingest: `data_loader.py:15-57` (missing file / bad JSON / wrong
  *    shape → empty list)
  *  - doc text: `embedding_utils.py:31-76` (Korean templates, `", "` vs
  *    `". "` join choices, `item.get(k, '')` defaults)
  *  - metadata flatten: `vector_db.py:29-42` (education struct →
  *    `education_*` stringified; lists → `", "`-joined; `doc_type` tag
  *    `vector_db.py:136`)
  *  - collection build: `vector_db.py:44-180` (validity filter :119-131,
  *    tagged union :56-60)
  *  - query: `talent_recommender.py:12-150` (overfetch :28, dept filter
  *    :98-105, keyword scoring :108-119, language AND-filter :122-145,
  *    composite sort :148, top-k :150)
  *
  * Everything is one declarative plan per stage — Catalyst prunes columns
  * into the JSON/parquet scans, and the final rank is
  * `TakeOrderedAndProject`. At 100 TB the collection is a partitioned
  * parquet table (partition by `doc_type`, optionally bucket by id).
  */
object HrPipeline {

  // ---- pinned schemas (FIXTURES.md §A; JSON itself is schemaless —
  // `json.load` at data_loader.py:28-29 — so the schema is pinned here) ----

  val educationSchema: StructType = StructType(Seq(
    StructField("degree", StringType),
    StructField("school", StringType),
    StructField("graduation_year", IntegerType)))

  val employeeSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("name", StringType),
    StructField("position", StringType),
    StructField("department", StringType),
    StructField("join_date", StringType),
    StructField("skills", ArrayType(StringType)),
    StructField("projects", ArrayType(StringType)),
    StructField("education", educationSchema),
    StructField("certifications", ArrayType(StringType)),
    StructField("languages", ArrayType(StringType)),
    StructField("profile_summary", StringType)))

  val jobSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("title", StringType),
    StructField("department", StringType),
    StructField("location", StringType),
    StructField("employment_type", StringType),
    StructField("required_skills", ArrayType(StringType)),
    StructField("preferred_skills", ArrayType(StringType)),
    StructField("experience_years", StringType),
    StructField("education", StringType), // plain string here, struct above
    StructField("responsibilities", ArrayType(StringType)),
    StructField("description", StringType)))

  /** Integrated-file schema: one JSON object with both record lists
    * (config.py:13; data_loader.py:51-57). */
  val integratedSchema: StructType = StructType(Seq(
    StructField("employees", ArrayType(employeeSchema)),
    StructField("job_descriptions", ArrayType(jobSchema))))

  // ---- ingest ---------------------------------------------------------

  /** Load one record list from the integrated JSON file. Reference
    * semantics: any failure (missing file, bad JSON, missing key, wrong
    * shape) → empty result, never an error (data_loader.py:24-46). */
  private def loadKey(spark: SparkSession, path: String, key: String,
                      schema: StructType): DataFrame = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    try {
      val raw = spark.read
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .schema(integratedSchema)
        .json(path)
      if (raw.isEmpty) empty
      else raw.select(explode_outer(col(key)).as("r")).select(col("r.*"))
        .filter(col("id").isNotNull) // corrupt file ⇒ all-null rows ⇒ empty
    } catch { case _: Exception => empty }
  }

  def loadEmployees(spark: SparkSession, path: String): DataFrame =
    loadKey(spark, path, "employees", employeeSchema)

  def loadJobs(spark: SparkSession, path: String): DataFrame =
    loadKey(spark, path, "job_descriptions", jobSchema)

  // ---- doc-text serialization (embedding_utils.py:31-76) --------------

  private def nz(c: Column): Column = coalesce(c, lit(""))
  private def joinList(c: Column, sep: String): Column =
    coalesce(array_join(c, sep), lit(""))

  /** Employee embedding text — template from embedding_utils.py:45-51:
    * skills `", "`, projects `". "`, languages `", "`, graduation year
    * `N/A` default, final `.strip()`. */
  def employeeDocText: Column = {
    val edu = concat(
      nz(col("education.degree")), lit(" "), nz(col("education.school")),
      lit(" ("),
      coalesce(col("education.graduation_year").cast("string"), lit("N/A")),
      lit(")"))
    trim(concat(
      lit("직원 유형. 프로필: "), nz(col("profile_summary")),
      lit(". 직무: "), nz(col("position")),
      lit(". 부서: "), nz(col("department")),
      lit(". 보유 기술: "), joinList(col("skills"), ", "),
      lit(". 수행 프로젝트: "), joinList(col("projects"), ". "),
      lit(". 학력: "), edu,
      lit(". 사용 언어: "), joinList(col("languages"), ", "),
      lit(".")))
  }

  /** Job-posting embedding text — template from embedding_utils.py:57-76:
    * skills `", "`, responsibilities `". "`, final `.strip()`. */
  def jobDocText: Column =
    trim(concat(
      lit("채용 공고 유형. 공고명: "), nz(col("title")),
      lit(". 부서: "), nz(col("department")),
      lit(". 근무지: "), nz(col("location")),
      lit(". 고용 형태: "), nz(col("employment_type")),
      lit(". 필수 기술: "), joinList(col("required_skills"), ", "),
      lit(". 우대 기술: "), joinList(col("preferred_skills"), ", "),
      lit(". 경력: "), nz(col("experience_years")),
      lit(". 학력 조건: "), nz(col("education")),
      lit(". 주요 업무: "), joinList(col("responsibilities"), ". "),
      lit(". 상세 설명: "), nz(col("description")),
      lit(".")))

  // ---- metadata flattening (vector_db.py:29-42) -----------------------

  /** ChromaDB-compatible flat metadata: education struct → stringified
    * `education_*` columns (null stays null — `str(v) if v is not None
    * else None`, vector_db.py:34); every list → `", "`-joined string with
    * empty-list → `""` (vector_db.py:36-37); scalars pass through. */
  val employeeMetadataColumns: Seq[Column] = Seq(
    col("id"), col("name"), col("position"), col("department"),
    col("join_date"),
    joinList(col("skills"), ", ").as("skills"),
    joinList(col("projects"), ", ").as("projects"),
    col("education.degree").cast("string").as("education_degree"),
    col("education.school").cast("string").as("education_school"),
    col("education.graduation_year").cast("string")
      .as("education_graduation_year"),
    joinList(col("certifications"), ", ").as("certifications"),
    joinList(col("languages"), ", ").as("languages"),
    col("profile_summary"))

  val jobMetadataColumns: Seq[Column] = Seq(
    col("id"), col("title"), col("department"), col("location"),
    col("employment_type"),
    joinList(col("required_skills"), ", ").as("required_skills"),
    joinList(col("preferred_skills"), ", ").as("preferred_skills"),
    col("experience_years"), col("education"),
    joinList(col("responsibilities"), ", ").as("responsibilities"),
    col("description"))

  def flattenEmployeeMetadata(df: DataFrame): DataFrame =
    df.select(employeeMetadataColumns: _*)

  // ---- collection build (vector_db.py:44-180) -------------------------

  /** Deterministic feature-hash embedding: token → bucket (md5-derived,
    * engine-portable) → L2-normalized count vector. Stands in for the
    * external sentence-transformer (V1 is a model call, outside the
    * engine — SURVEY §2.3); exercises the identical dataflow with the
    * real 384-dim shape swapped for `dim`. */
  def featureHashEmbedding(textCol: Column, dim: Int): Column =
    graft.functions.VectorFunctions.featureHashEmbedding(textCol, dim)

  /** Build the embedding-ready collection: validity filter → doc text (on
    * the nested schema) → flat metadata + `doc_type` tag → union of
    * heterogeneous schemas → embedding column. Output schema ≈ the
    * ChromaDB collection row (id, document, embedding, flat metadata,
    * doc_type). One declarative plan — no joins, no shuffles until the
    * sink's repartition. */
  def collection(employees: DataFrame, jobs: DataFrame,
                 embedDim: Int = 64): DataFrame =
    collectionDocs(employees, jobs)
      .withColumn("embedding", featureHashEmbedding(col("document"), embedDim))

  /** The embedding-ready docs WITHOUT the embedding column — the input to
    * either the in-plan expression ([[collection]]) or the batched
    * external-encoder seam ([[collectionEncoded]]). */
  def collectionDocs(employees: DataFrame, jobs: DataFrame): DataFrame = {
    val empRows = employees
      .filter(col("id").isNotNull) // vector_db.py:119-121
      .withColumn("document", employeeDocText)
      .filter(length(col("document")) > 0) // vector_db.py:129-131
      .select(employeeMetadataColumns :+ col("document"): _*)
      .withColumn("doc_type", lit("employee")) // vector_db.py:136
    val jobRows = jobs
      .filter(col("id").isNotNull)
      .withColumn("document", jobDocText)
      .filter(length(col("document")) > 0)
      .select(jobMetadataColumns :+ col("document"): _*)
      .withColumn("doc_type", lit("job"))

    empRows.unionByName(jobRows, allowMissingColumns = true) // vector_db.py:56-60
  }

  /** [[collection]] with the embedding produced by a pluggable BATCHED
    * encoder instead of the in-plan expression — the production seam for
    * a real model runtime (`model.encode` over 5000-doc slices,
    * vector_db.py:160 + config.py:24). Default kernel is the same
    * feature-hash bits as [[collection]], parity-tested in
    * ReferenceDataSpec. */
  def collectionEncoded(employees: DataFrame, jobs: DataFrame,
                        encoder: graft.operators.BatchEncode.Encoder,
                        batchSize: Int = 5000): DataFrame =
    graft.operators.BatchEncode.withEmbedding(
      collectionDocs(employees, jobs), "document", encoder, batchSize)

  // ---- change detection (vector_db.py:81-107) -------------------------

  /** Count-based change detection: persisted count vs source distinct-id
    * count; mismatch ⇒ full rebuild (the reference punts id-level diff —
    * vector_db.py:91-94). Returns true when a rebuild is needed. */
  def needsRebuild(spark: SparkSession, indexDir: String,
                   employees: DataFrame, jobs: DataFrame): Boolean = {
    val srcIds = employees.select(col("id"))
      .unionByName(jobs.select(col("id")))
      .filter(col("id").isNotNull).distinct().count()
    try {
      val persisted = spark.read.parquet(indexDir).count()
      persisted != srcIds
    } catch { case _: Exception => true } // no index yet ⇒ build
  }

  /** Write the collection as the persisted "index" — partitioned by
    * doc_type so categorical pre-filters prune whole partitions at scale
    * (the Spark analogue of ChromaDB's `where=` pushdown). */
  def writeCollection(coll: DataFrame, indexDir: String,
                      numFiles: Int = 32): Unit =
    coll.repartition(numFiles, col("id"))
      .write.mode("overwrite").partitionBy("doc_type").parquet(indexDir)

  /** Upsert-by-key: rows of `updates` replace same-id rows of `existing`,
    * new ids append (the incremental alternative to the reference's
    * drop-and-rebuild, SURVEY §2 S3: anti-join old keys + union). One
    * shuffle on id for the anti join; at scale both sides bucket by id so
    * the join is co-partitioned. */
  def upsertByKey(existing: DataFrame, updates: DataFrame,
                  key: String = "id"): DataFrame =
    existing.join(updates.select(key).withColumnRenamed(key, "_uk"),
        col(key) === col("_uk"), "left_anti")
      .unionByName(updates, allowMissingColumns = true)

  // ---- query (talent_recommender.py:12-150) ---------------------------

  /** Full recommendation query, reference semantics end-to-end.
    *
    * `exactMode = false` reproduces the reference's overfetch-then-filter
    * order (recall loss and all — talent_recommender.py:28,:61-150);
    * `exactMode = true` is the strictly-better Spark-native order
    * (pre-filter everything, then one exact top-k). */
  def recommend(coll: DataFrame, queryText: String, queryVec: Seq[Double],
                k: Int = 3, departmentFilter: Option[String] = None,
                requiredLanguages: Seq[String] = Nil,
                targetDocType: Option[String] = None,
                exactMode: Boolean = false): DataFrame = {
    // keywords: whitespace-split, strip, len > 2, lower (talent_recommender.py:108)
    val keywords = queryText.split("\\s+").map(_.trim.toLowerCase)
      .filter(_.length > 2).toSeq

    val typed = targetDocType.filter(Seq("employee", "job").contains)
      .fold(coll)(t => coll.filter(col("doc_type") === t)) // :31-40 pre-filter

    val candidates =
      if (exactMode) Knn.withL2Distance(typed, col("embedding"), queryVec)
      else Knn.knnExact(typed, col("embedding"), queryVec,
        k = Knn.overfetch(k), tieBreak = "id") // :28 overfetch

    // type-dispatched projection (:70-94)
    val projected = candidates.withColumn("name_or_title",
        when(col("doc_type") === "employee", col("name"))
          .otherwise(coalesce(col("title"), lit("N/A"))))
      .withColumn("search_text",
        when(col("doc_type") === "employee", lower(nz(col("projects"))))
          .otherwise(lower(concat(nz(col("responsibilities")), lit(" "),
            nz(col("description")))))) // :110-115

    // department ci-equality filter + reason (:98-105)
    val deptFiltered = departmentFilter.fold(projected) { dep =>
      projected.filter(lower(col("department")) === dep.toLowerCase)
    }
    val deptReason = departmentFilter.map(_ => lit(1)).getOrElse(lit(0))

    // keyword count → one reason iff any matched (:108-119)
    val kwCount =
      if (keywords.isEmpty) lit(0)
      else size(filter(typedlit(keywords), t => col("search_text").contains(t)))
    val scored = deptFiltered
      .withColumn("matched_keywords", kwCount)
      .withColumn("kw_reason", when(col("matched_keywords") > 0, 1).otherwise(0))

    // language AND-filter, employees only; non-employees pass (:122-145)
    val langFiltered =
      if (requiredLanguages.isEmpty) scored.withColumn("lang_reason", lit(0))
      else scored.filter(
          col("doc_type") =!= "employee" ||
            forall(typedlit(requiredLanguages.map(_.toLowerCase)),
              l => lower(nz(col("languages"))).contains(l)))
        .withColumn("lang_reason",
          when(col("doc_type") === "employee", 1).otherwise(0))

    // composite sort (−|reasoning|, distance) + explicit id tiebreak, top-k
    // (:148-150; tie order made deterministic per SURVEY §2.8)
    langFiltered
      .withColumn("match_count",
        deptReason + col("kw_reason") + col("lang_reason"))
      .orderBy(col("match_count").desc, col("dist").asc, col("id").asc)
      .limit(k)
      .select(col("id"), col("doc_type"), col("name_or_title"),
        col("department"), col("dist"), col("match_count"),
        round(lit(1.0) - col("dist"), 6).as("similarity")) // main.py:118
  }
}

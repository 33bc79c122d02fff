package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Knn

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` key is one operator from SURVEY.md §2 (reference parity) or
  * §7.4 (extensions); `oracleSql` holds the DuckDB-equivalent SQL run by the
  * driver on the same parquet tables. Column names and ordering keys match
  * exactly between the two (driver hash-compares after sorting columns by
  * name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The reference's entire query spine fused (talent_recommender.py:26-150):
    * categorical pre-filter → exact kNN by L2 → top-k with deterministic
    * tiebreak. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.vectorAt(emb, col("vec_id"), 0L, col("embedding"))
    Knn.knnExact(emb, col("embedding"), q, k = 5,
        preFilter = Some(col("label") === 5))
      .select(col("vec_id"), col("label"), col("dist"))
  }

  /** One entry per implemented operator from SURVEY.md §2 / §7.4. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ParityQueries.all ++ ExtensionQueries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ParityQueries.oracles ++ ExtensionQueries.oracles

  /** `names`, unchanged, once every one is a `queries` key — a mistyped
    * name given to a driver main fails instead of selecting nothing. */
  def checkKeys(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    names
  }
}

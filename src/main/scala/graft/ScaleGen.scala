package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator (round-6 VERDICT item 8: "push oracle
  * scale past sf0.1 without sf1 testdata").
  *
  * Replicates the driver's sf tables N× with disjoint key ranges: copy k
  * shifts every primary/foreign key by k·(max+1), so referential
  * integrity holds within each copy and ids never collide across copies.
  * Non-key payloads (texts, embeddings, timestamps, prices) are copied
  * verbatim — the result is a dup-heavy corpus (every document/vector has
  * N−1 exact twins under distinct ids), which is exactly the crawl-shaped
  * stress the dedup families exist for, and every declared query stays
  * well-defined because the §2.8 determinism rules (unique-key tiebreaks,
  * DECIMAL aggregation) make tie order explicit.
  *
  * Output uses TESTDATA.md's layout — ONE parquet file per table named
  * `<table>.parquet` — so `graft.Verify` and `tools/check.py` run
  * unmodified against the generated directory: the same DuckDB oracle
  * gate that checks sf0.01/sf0.1 checks the scaled corpus.
  *
  * Dimension tables (`region`, `nation`) are NOT scaled: nationkeys are
  * referenced verbatim by customer/supplier copies, mirroring TPC-H where
  * dims are fixed-size at every sf.
  */
object ScaleGen {
  /** key column → which table's own key range sizes the shift stride */
  private val shiftSpec: Map[String, Seq[(String, String, String)]] = Map(
    // table -> (column, baseTable, baseColumn)
    "customer" -> Seq(("c_custkey", "customer", "c_custkey")),
    "supplier" -> Seq(("s_suppkey", "supplier", "s_suppkey")),
    "part" -> Seq(("p_partkey", "part", "p_partkey")),
    "orders" -> Seq(("o_orderkey", "orders", "o_orderkey"),
                    ("o_custkey", "customer", "c_custkey")),
    "lineitem" -> Seq(("l_orderkey", "orders", "o_orderkey"),
                      ("l_partkey", "part", "p_partkey"),
                      ("l_suppkey", "supplier", "s_suppkey")),
    "events" -> Seq(("event_id", "events", "event_id"),
                    ("user_id", "events", "user_id")),
    "documents" -> Seq(("doc_id", "documents", "doc_id")),
    "embeddings" -> Seq(("vec_id", "embeddings", "vec_id")))

  def replicate(df: DataFrame, shifts: Map[String, Long],
                copies: Int): DataFrame = {
    val withK = df.withColumn("__copy",
      explode(typedlit((0L until copies.toLong).toArray)))
    val cols = df.schema.fields.map { f =>
      shifts.get(f.name) match {
        case Some(stride) =>
          (col(f.name) + col("__copy") * lit(stride))
            .cast(f.dataType).as(f.name)
        case None => col(f.name)
      }
    }
    withK.select(cols.toIndexedSeq: _*)
  }

  /** Single-file parquet write (TESTDATA.md layout): coalesce(1) into a
    * staging dir, move the part file to `<out>/<name>.parquet`. The
    * single-threaded encode is the price of check.py compatibility — at
    * 6M lineitem rows it is tens of seconds, paid once per generation. */
  private def writeSingle(df: DataFrame, out: String, name: String): Unit = {
    val tmp = java.nio.file.Paths.get(out, s"_stage_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles
      .find(f => f.getName.endsWith(".parquet")).getOrElse(
        sys.error(s"$name: no part file under $tmp"))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(out, s"$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    tmp.toFile.listFiles.foreach(_.delete())
    java.nio.file.Files.deleteIfExists(tmp)
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.local(32)
    // keep the source tables' TIMESTAMP(MICROS) physical type — INT96
    // would change what DuckDB reads back
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(out).mkdirs()

    // strides from the SOURCE data (max+1 per key), not hard-coded row
    // counts — the generator works against any sf input
    val strideOf: Map[(String, String), Long] =
      shiftSpec.values.flatten.map { case (_, bt, bc) => (bt, bc) }.toSet
        .map { tc: (String, String) =>
          val (bt, bc) = tc
          tc -> (Tables.load(spark, src, bt)
            .agg(max(col(bc))).head.getLong(0) + 1L)
        }.toMap

    Tables.names.foreach { name =>
      val df = Tables.load(spark, src, name)
      val t0 = System.nanoTime()
      name match {
        case "region" | "nation" => writeSingle(df, out, name)
        case _ =>
          val shifts = shiftSpec(name)
            .map { case (c, bt, bc) => c -> strideOf((bt, bc)) }.toMap
          writeSingle(replicate(df, shifts, copies), out, name)
      }
      println(f"[scalegen] $name%-12s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }
    println(s"[scalegen] ${copies}x of $src written to $out")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.Bm25

/** BM25 operator gates: serving under maintained statistics == batch,
  * the additivity the bm25Stream lifecycle rests on, the empty top-k of
  * a query nothing matches, and the rejection of keywords no token can
  * equal. */
class Bm25Spec extends SparkSuite {
  import spark.implicits._

  private val kws = Seq("alpha", "beta", "gamma")

  /** Skewed fixture: a few docs stuffed with query terms, a long tail
    * of single-hit docs ("beta" and "gamma" live in the heads only). */
  private def skewed = {
    val heads = (0L until 6L).map(i =>
      (i, ("alpha beta gamma " * 6) + "filler"))
    val tail = (6L until 64L).map(i =>
      (i, s"alpha ${"filler word salad " * (1 + (i % 5).toInt)}"))
    (heads ++ tail).toDF("doc_id", "text")
  }

  /** The readBm25Stats split, derived from a statsPartial frame via
    * collected scalars — building the 1-row stats frame with a lazy
    * division would let Catalyst push it below the partial's union and
    * constant-fold the df branch's literal 0/0 into an ANSI error. */
  private def statsFrames(part: org.apache.spark.sql.DataFrame) = {
    val dfreq = part.filter(col("term") =!= "")
      .select(col("term"), col("_df").as("df"))
    val (sdl, sn) = part.filter(col("term") === "")
      .select(col("_dl"), col("_n")).as[(Long, Long)].head()
    val stats = Seq((sdl.toDouble / sn.toDouble, sn.toDouble))
      .toDF("avgdl", "nd")
    (dfreq, stats)
  }

  test("no-match query yields the (empty) exhaustive top-k result") {
    val docs = skewed
    val out = Bm25.scores(docs, col("doc_id"), col("text"),
        Seq("zzz_absent"), docs.count())
      .orderBy(col("score").desc, col("doc_id").asc).limit(5)
    assert(out.count() === 0L)
  }

  test("keywords no token can equal are rejected by name") {
    // tokens() lowercases and splits on \s+, so an uppercase, a
    // multi-word or an empty keyword would silently score nothing
    val docs = skewed
    val (dfreq, stats) = statsFrames(
      Bm25.statsPartial(docs, col("doc_id"), col("text")))
    for (bad <- Seq("Join", "alpha beta", "")) {
      val batch = intercept[IllegalArgumentException] {
        Bm25.scores(docs, col("doc_id"), col("text"), Seq("alpha", bad), 64L)
      }
      assert(batch.getMessage.contains(s"\"$bad\""), batch.getMessage)
      assert(!batch.getMessage.contains("\"alpha\""), batch.getMessage)
      val served = intercept[IllegalArgumentException] {
        Bm25.scoresWith(docs, col("doc_id"), col("text"), Seq(bad),
          dfreq, stats)
      }
      assert(served.getMessage.contains(s"\"$bad\""), served.getMessage)
    }
  }

  test("scoresWith under statsPartial-derived statistics equals batch " +
      "scores over the same corpus") {
    val docs = skewed
    val (dfreq, stats) = statsFrames(
      Bm25.statsPartial(docs, col("doc_id"), col("text")))
    val served = Bm25.scoresWith(docs, col("doc_id"), col("text"),
        kws, dfreq, stats)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val batch = Bm25.scores(docs, col("doc_id"), col("text"), kws,
        docs.count())
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(served === batch)
  }

  test("statsPartial is additive over doc-disjoint splits (the " +
      "bm25Stream contract)") {
    val docs = skewed
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 =!= 0)
    def toMap(df: org.apache.spark.sql.DataFrame)
        : Map[String, (Long, Long, Long)] =
      df.as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val merged = toMap(
      Bm25.statsPartial(a, col("doc_id"), col("text"))
        .unionByName(Bm25.statsPartial(b, col("doc_id"), col("text")))
        .groupBy("term")
        .agg(sum(col("_df")).as("_df"), sum(col("_dl")).as("_dl"),
          sum(col("_n")).as("_n")))
    val whole = toMap(Bm25.statsPartial(docs, col("doc_id"), col("text")))
    assert(merged === whole)
  }

  test("scoresWith drops terms the maintained corpus has never seen " +
      "(df inner join) instead of scoring them") {
    val docs = skewed
    val (dfreq, stats) = statsFrames(
      Bm25.statsPartial(docs, col("doc_id"), col("text")))
    // "beta" only lives in the head docs; a query mixing a known and
    // an unknown term scores exactly like the known term alone
    val mixed = Bm25.scoresWith(docs, col("doc_id"), col("text"),
        Seq("beta", "zzz_absent"), dfreq, stats)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val known = Bm25.scoresWith(docs, col("doc_id"), col("text"),
        Seq("beta"), dfreq, stats)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(mixed === known)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Rounding.floorRound6
import graft.functions.TextFunctions.tokens

/** Okapi BM25 scoring (Robertson & Spärck Jones probabilistic family;
  * the Elasticsearch/Lucene default ranking the reference's keyword
  * pre-filter approximates — `talent_recommender.py:96-118` counts
  * keyword hits, BM25 is the principled form of the same signal).
  *
  * k1=1.2, b=0.75, the +0.5 idf smoothing kept RATIONAL — no ln(),
  * which would be libm-divergent cross-engine; log only rescales the
  * ranking. Per-doc score folds term-contributions in TERM-SORTED
  * order so float accumulation is cross-engine deterministic.
  *
  * Scale shape: tokenization map-side; tf/df are keyword-filtered
  * (tiny) aggregates sharing one Exchange; doc length is the token-
  * array size computed in the scan projection (no corpus shuffle); df
  * and the 1-row avgdl/N stats broadcast; the only corpus shuffle left
  * is the per-doc score regroup over MATCHED docs — linear.
  *
  * Two entry points:
  *  - [[scores]]: batch — corpus statistics derived from the scored
  *    corpus itself (q_bm25_rank and q_bm25_maxscore: top-k is
  *    `scores(...).orderBy(score DESC, doc_id).limit(k)`, whose
  *    TakeOrderedAndProject keeps a k-heap per partition).
  *  - [[scoresWith]]: serving — candidates scored under EXTERNALLY
  *    maintained corpus statistics (df table + 1-row avgdl/N), the
  *    [[graft.streaming.Streams.bm25Stream]] merge-on-read output.
  *    At 100 TB the statistics are index metadata maintained
  *    incrementally; a query never re-aggregates the corpus.
  *
  * No term-upper-bound (MaxScore/WAND) pruning: the exact score is one
  * per-doc fold over keyword-sized rows, and every bound stage (term
  * bounds, seed fold, θ, survivor fold) is a job that costs more than
  * the fold it saves — measured 19 vs 9 jobs and 3.5× the warm wall on
  * 500 docs (1.63 vs 0.46 s, 4 vCPU).
  */
object Bm25 {

  /** The separator class of [[tokens]]' `\s+` split (Java regex). */
  private val Whitespace = java.util.regex.Pattern.compile("\\s")

  /** Per-(doc, term) exact BM25 contribution given joined tf/df/dl and
    * the broadcast 1-row stats (avgdl DOUBLE, nd DOUBLE). */
  private def termScore: Column = {
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    ((col("nd") - dfD + lit(0.5)) / (dfD + lit(0.5))) *
      (tfD * lit(2.2)) /
      (tfD + lit(1.2) *
        (lit(1.0) - lit(0.75) + lit(0.75) * dlD / col("avgdl")))
  }

  /** tf ⋈ bc(df) ⋈ dl × bc(stats) → per-(doc, term) contribution
    * `ts`. */
  private def contributions(tf: DataFrame, dfreq: DataFrame,
                            dls: DataFrame, stats: DataFrame): DataFrame =
    tf.join(broadcast(dfreq), "term").join(dls, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("ts", termScore)

  /** Fold per-(doc, term) contributions to `(doc_id, score)` in
    * term-sorted order (cross-engine float determinism). */
  private def foldScores(contrib: DataFrame): DataFrame =
    contrib
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("term"), col("ts"))))
        .as("arr"))
      .withColumn("score", floorRound6(aggregate(col("arr"), lit(0.0),
        (a, x) => a + x.getField("ts"))))
      .select(col("doc_id"), col("score"))

  private def termsOf(docs: DataFrame, idCol: Column,
                      textCol: Column): DataFrame =
    docs.select(idCol.as("doc_id"), explode(tokens(textCol)).as("term"))

  /** Per-doc length WITHOUT the corpus shuffle: dl = the token-array
    * size, computed in the scan projection — the former
    * `terms.groupBy(doc_id).count()` exploded every occurrence and paid
    * a full corpus doc-keyed exchange for a value the array already
    * knows. The `dl > 0` filter keeps the doc set identical to the
    * explode-derived form (zero-token docs never produced occurrence
    * rows), so avgdl's numerator AND denominator are unchanged. */
  private def docLens(docs: DataFrame, idCol: Column,
                      textCol: Column): DataFrame =
    docs.select(idCol.as("doc_id"),
        size(tokens(textCol)).cast("long").as("dl"))
      .filter(col("dl") > 0)

  /** The keyword-filtered (doc_id, term, tf) table — keyword-sized, so
    * its count shuffle is tiny. df(term) is its per-term row count:
    * deriving df FROM this aggregate (instead of the former
    * distinct+regroup over a separate explode) makes the df subtree
    * identical to the tf subtree, so one Exchange serves both
    * (ReusedExchange — the former shape's filter pushdown split the
    * trees and re-tokenized the corpus per consumer, a measured 36-scan
    * plan: plans/r16/q_bm25_maxscore_before.txt).
    *
    * Every keyword must be a token [[tokens]] can emit — non-empty, no
    * `\s` character, already lowercase — or it would silently score
    * nothing; such keywords fail here, listed by name. */
  private def kwTf(docs: DataFrame, idCol: Column, textCol: Column,
                   kws: Seq[String]): DataFrame = {
    val unmatchable = kws.filter(k => k.isEmpty ||
      Whitespace.matcher(k).find() ||
      UTF8String.fromString(k).toLowerCase.toString != k)
    require(unmatchable.isEmpty, "BM25 keywords must be lowercase " +
      "single tokens; these can never match a token: " +
      unmatchable.map(k => s"\"$k\"").mkString(", "))
    termsOf(docs, idCol, textCol).filter(col("term").isin(kws: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
  }

  /** Batch BM25: corpus statistics derived from `docs` itself. Emits
    * one `(doc_id, score)` row per doc matching ≥ 1 keyword. */
  def scores(docs: DataFrame, idCol: Column, textCol: Column,
             kws: Seq[String], nDocs: Long): DataFrame = {
    val dls = docLens(docs, idCol, textCol)
    // avgdl as a lazy 1-row broadcast aggregate (scalar-subquery shape,
    // one double division = the oracle's sum(dl)::DOUBLE / count(*)):
    // the query stays single-action instead of paying an eager
    // agg().head() before the measured dataflow builds. N rides the
    // same row as a constant column — identical double to the former
    // literal, so scores are bit-unchanged.
    val stats = dls.agg(
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      .withColumn("nd", lit(nDocs.toDouble))
    val tf = kwTf(docs, idCol, textCol, kws)
    // df = docs containing the term = the term's (doc, term) row count
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    foldScores(contributions(tf, dfreq, dls, stats))
  }

  /** Serving BM25: score `cands` under externally maintained corpus
    * statistics — `dfreq(term, df)` over the FULL ingested corpus and
    * the 1-row `stats(avgdl DOUBLE, nd DOUBLE)`. Candidate tf/dl are
    * re-derived from the candidate text (a doc's length is a property
    * of the doc); df/avgdl/N come from the maintained state, so the
    * scores equal [[scores]] over the full corpus exactly when the
    * candidates are ingested members. Terms absent from `dfreq`
    * (never ingested) drop out via the inner join — they contribute
    * nothing under a corpus that has never seen them. */
  def scoresWith(cands: DataFrame, idCol: Column, textCol: Column,
                 kws: Seq[String], dfreq: DataFrame,
                 stats: DataFrame): DataFrame = {
    // dl map-side from the token array ([[docLens]] — no corpus
    // shuffle), tf from the keyword-filtered count ([[kwTf]])
    val dls = docLens(cands, idCol, textCol)
    val tf = kwTf(cands, idCol, textCol, kws)
    val kf = dfreq.filter(col("term").isin(kws: _*))
      .select(col("term"), col("df"))
    foldScores(contributions(tf, kf, dls, stats))
  }

  /** One batch's ADDITIVE corpus-statistics partial for the
    * [[graft.streaming.Streams.bm25Stream]] lifecycle: per-term
    * document frequencies plus one sentinel row (`term = ""` — the
    * tokenizer drops empties, so the sentinel can never collide with a
    * real term) carrying the batch's total token count and doc count.
    * All three quantities are sums over doc-disjoint batches, so the
    * merged table equals the batch-computed statistics exactly.
    * Vocabulary-sized — NOT keyword-filtered: the maintained state
    * serves ANY future query's terms, like real postings metadata. */
  def statsPartial(docs: DataFrame, idCol: Column,
                   textCol: Column): DataFrame = {
    val terms = termsOf(docs, idCol, textCol)
    val dfp = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("_df"))
      .select(col("term"), col("_df"), lit(0L).as("_dl"),
        lit(0L).as("_n"))
    val scal = docs.select(size(tokens(textCol)).cast("long").as("tl"))
      .agg(coalesce(sum(col("tl")), lit(0L)).as("_dl"),
        count(lit(1)).as("_n"))
      .select(lit("").as("term"), lit(0L).as("_df"), col("_dl"),
        col("_n"))
    dfp.unionByName(scal)
  }
}

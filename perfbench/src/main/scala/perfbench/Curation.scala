package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}

/** The LLM-data curation batch path: one pass runs four `SparkEntry.queries`
  * keys on a seeded `documents` corpus, each to a noop sink. */
object Curation {
  val Docs = 500
  /** The pair and top-k keys (TF-IDF similarity join, BM25 MaxScore), a
    * tokenizer encode, and DSIR selection with its checkpoint barrier. */
  val Keys: Seq[String] = Seq("q_tfidf_simjoin", "q_bm25_maxscore",
    "q_unigram_encode", "q_dsir_select")
  /** Passes in set-up, before timing: the first (cold) one writes the rows
    * the oracle comparison checks. On a 4-vCPU VM a pass took about 15 s
    * cold, 5.5–6 s second, and kept falling by a few percent a pass until
    * about the sixth. */
  val WarmPasses = 3

  /** One pass. With `dump` set, each key's rows go to parquet for the
    * oracle comparison instead of the noop sink. */
  def pass(c: Ctx, dir: String, dump: Option[Path] = None): Seq[(String, Double)] = {
    c.span("Tables.load") { Tables.documents(c.spark, dir) }
    Keys.map { k =>
      val t0 = System.nanoTime()
      c.span(s"curate.$k") {
        val df = SparkEntry.queries(k)(c.spark, dir)
        dump match {
          case Some(out) => df.coalesce(1).write.mode("overwrite")
            .parquet(out.resolve(k).toString)
          case None => df.write.format("noop").mode("overwrite").save()
        }
      }
      k -> (System.nanoTime() - t0) / 1e9
    }
  }

  /** The oracle SQL of every key, for the DuckDB comparison the runner
    * makes after this process exits. */
  def writeOracles(c: Ctx, out: Path): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    val oracles = SparkEntry.oracleSql
    val missing = Keys.filterNot(oracles.contains)
    if (missing.nonEmpty) c.report.error(s"no oracle SQL for ${missing.mkString(", ")}")
    Files.write(out.resolve("oracle_sql.json"),
      Keys.filter(oracles.contains).map(k => s"${q(k)}: ${q(oracles(k))}")
        .mkString("{", ",", "}").getBytes(UTF_8))
  }

  def ckptDir(c: Ctx): Path =
    java.nio.file.Paths.get(new java.net.URI(c.spark.sparkContext.getCheckpointDir.get))

  def run(c: Ctx, sessionS: Double): (String, () => DataFrame) = {
    val rounds = (0 until 3).map { r =>
      val t0 = System.nanoTime()
      val d = c.dir(s"in-$r")
      c.span("Gen.documents") { Gen.documents(c.spark, c.seed, d, Docs) }
      ((System.nanoTime() - t0) / 1e9, d.toString)
    }
    val dir = rounds.last._2
    val oracle = c.dir("oracle")
    val warmS = (0 until WarmPasses).map { i =>
      c.once("warm") {
        pass(c, dir, Option.when(i == 0)(oracle))
        () => Nil
      }
    }
    writeOracles(c, oracle)
    c.log(f"set-up: session $sessionS%.1f s, generation ${Stats.median(rounds.map(_._1))}%.1f s, " +
      s"warm passes ${warmS.map(w => f"$w%.1f").mkString(" + ")} s")
    c.report.e2e("setup_s", sessionS + Stats.median(rounds.map(_._1)) + warmS.sum, "s", 1)

    val walls = scala.collection.mutable.Map[String, Seq[Double]]()
    val ckpt = scala.collection.mutable.ArrayBuffer[Long]()
    c.heap.reset()
    val passes = c.timed("pass", c.seconds) { _ =>
      val before = c.bytesUnder(ckptDir(c))
      val keys = pass(c, dir)
      () => {
        ckpt += c.bytesUnder(ckptDir(c)) - before
        keys.foreach { case (k, w) => walls(k) = walls.getOrElse(k, Seq()) :+ w }
        Nil
      }
    }
    c.report.e2e("op_p50_ms", Stats.median(passes) * 1000, "ms", passes.length)
    c.heap.report(passes.length)
    c.report.e2e("disk_bytes_per_doc", Stats.median(ckpt.map(_.toDouble).toSeq) / Docs,
      "B", ckpt.length)
    c.report.layer("curate_s", Stats.median(passes), "s", passes.length)
    c.report.layer("ckpt.bytes", Stats.median(ckpt.map(_.toDouble).toSeq), "B", ckpt.length)
    Keys.foreach { k =>
      val w = walls.getOrElse(k, Seq())
      if (w.nonEmpty) c.report.layer(s"curate.${k}_s", Stats.median(w), "s", w.length)
    }
    ("pass", () => Tables.documents(c.spark, dir).select(col("text").as("document")))
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pluggable batch-inference embedding seam — the Spark form of the
  * reference's batch-encode loop (recommender/vector_db.py:146-175:
  * slice the corpus into `CHROMA_UPSERT_BATCH_SIZE`-doc batches,
  * `model.encode(batch)`, upsert; batch size 5000 from config.py:24).
  *
  * A real encoder is an external kernel (ONNX session, JNI runtime, or an
  * Arrow-batch subprocess) — exactly the seam a Catalyst `Expression`
  * cannot express, so `mapPartitions` is the right escalation (SURVEY
  * §7.3 order): the model loads ONCE per partition, every call sees a
  * `batchSize`-row slice (GPU-batchable), and a poisoned batch can
  * skip-and-continue like the reference's per-batch try/except
  * (vector_db.py:173-176) instead of killing the job.
  *
  * 100 TB notes: embedding is embarrassingly parallel — no shuffle is
  * introduced; throughput scales with partitions × per-batch kernel
  * throughput. Encoders MUST be deterministic per text: Spark retries and
  * speculative tasks re-encode rows, and two attempts must agree.
  */
object BatchEncode {

  /** One batch of texts in, one vector per text out (order-preserving,
    * same length). Implementations must be deterministic and
    * serializable (constructed on the driver, shipped to executors —
    * heavyweight model state belongs in a lazy/transient field so it
    * loads per executor, not per serialization). */
  trait Encoder extends Serializable {
    def dim: Int
    def encodeBatch(texts: Seq[String]): Seq[Array[Double]]
  }

  /** Default kernel: the deterministic feature-hash embedding — same bits
    * as the in-plan [[graft.plans.FeatureHashEmbed]] expression (shared
    * `compute`), so the seam stays oracle-checkable while standing in for
    * `model.encode`. */
  final class FeatureHashEncoder(val dim: Int) extends Encoder {
    def encodeBatch(texts: Seq[String]): Seq[Array[Double]] =
      texts.map(t => graft.plans.FeatureHashEmbed
        .compute(UTF8String.fromString(t), dim)
        .toDoubleArray())
  }

  /** The external-kernel demo: a REAL batch encoder with the exact
    * lifecycle an ONNX/torch session needs, runnable on a bare JVM (the
    * container ships no model runtimes, and the driver contract forbids
    * new deps — the reference externalizes `model.encode` the same way,
    * vector_db.py:144-160).
    *
    * The wiring is the point; every piece maps 1:1 onto a real model:
    *
    *  - `@transient lazy val weights` — the model load. Serialized as a
    *    seed (bytes-on-the-wire ≈ a model PATH), materialized ONCE per
    *    executor JVM on first batch, never per row and never on the
    *    driver. Swap: `lazy val session = OrtEnvironment...createSession
    *    (modelPath)`.
    *  - `encodeBatch` — one kernel call per 5,000-doc slice: texts →
    *    token-hash rows → ONE [batch × vocab]·[vocab × dim] projection →
    *    mean-pool → L2 normalize. Swap: tokenizer + `session.run` on the
    *    batch tensor; the batch shape is already GPU-sized.
    *  - Determinism — weights are a pure function of the seed, so retry
    *    and speculative attempts agree (the seam's hard requirement).
    *
    * This is a real (if tiny) text embedding — hashed bag-of-tokens
    * through a frozen random projection, cosine-meaningful like any
    * random-projection sketch — not a stub: the matmul cost scales with
    * batch size exactly the way a model forward pass does, so the
    * BASELINE.md throughput row (docs/s) exercises the true seam overhead. */
  final class ProjectionEncoder(val dim: Int, vocab: Int = 1 << 12,
                                seed: Long = 42L) extends Encoder {
    // "model load": one vocab×dim float matrix per executor JVM,
    // splitmix64-generated → deterministic across the cluster
    @transient private lazy val weights: Array[Float] = {
      val w = new Array[Float](vocab * dim)
      var i = 0
      while (i < w.length) {
        var z = seed + (i + 1) * 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        w(i) = ((z ^ (z >>> 31)) >>> 11).toFloat / (1L << 53).toFloat - 0.5f
        i += 1
      }
      w
    }

    def encodeBatch(texts: Seq[String]): Seq[Array[Double]] = {
      val w = weights
      texts.map { t =>
        val acc = new Array[Double](dim)
        var n = 0
        // hashed bag-of-tokens forward pass: Σ_token W[bucket(token), :]
        t.toLowerCase.split("\\s+").foreach { tok =>
          if (tok.nonEmpty) {
            val b = math.floorMod(tok.hashCode * 0x9e3779b1, vocab)
            var j = 0
            while (j < dim) { acc(j) += w(b * dim + j); j += 1 }
            n += 1
          }
        }
        // mean-pool + L2 normalize (what sentence encoders emit)
        var norm = 0.0; var j = 0
        if (n > 0) { while (j < dim) { acc(j) /= n; j += 1 } }
        j = 0; while (j < dim) { norm += acc(j) * acc(j); j += 1 }
        val inv = if (norm > 0) 1.0 / math.sqrt(norm) else 0.0
        j = 0; while (j < dim) { acc(j) *= inv; j += 1 }
        acc
      }
    }
  }

  /** Append `outCol` (ARRAY<DOUBLE>) to `df` by running `encoder` over
    * `batchSize`-row slices of each partition. NULL text encodes as ""
    * (the reference templates never produce null docs — validity-filtered
    * upstream). With `skipFailedBatches` a throwing batch drops its rows
    * and the job continues (the reference's per-batch resilience);
    * without it the error propagates and the task retries. */
  def withEmbedding(df: DataFrame, textCol: String, encoder: Encoder,
                    batchSize: Int = 5000, // CHROMA_UPSERT_BATCH_SIZE
                    outCol: String = "embedding",
                    skipFailedBatches: Boolean = false): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val outSchema = df.schema.add(outCol, ArrayType(DoubleType, containsNull = false))
    val tIdx = df.schema.fieldIndex(textCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val texts = batch.map(r => if (r.isNullAt(tIdx)) "" else r.getString(tIdx))
        // only the ENCODER call is skippable — a vector-count mismatch is
        // an encoder contract bug (not a poisoned batch) and always throws;
        // skipped batches are logged so row loss is observable
        val vecsOpt =
          try Some(encoder.encodeBatch(texts))
          catch {
            case e: Exception if skipFailedBatches =>
              org.slf4j.LoggerFactory.getLogger("graft.operators.BatchEncode")
                .warn(s"dropping failed batch of ${batch.length} rows: $e")
              None
          }
        vecsOpt match {
          case Some(vecs) =>
            require(vecs.length == batch.length,
              s"encoder returned ${vecs.length} vectors for ${batch.length} texts")
            batch.zip(vecs).map { case (r, v) => Row.fromSeq(r.toSeq :+ v.toSeq) }
          case None => Seq.empty[Row]
        }
      }
    }(Encoders.row(outSchema))
  }
}

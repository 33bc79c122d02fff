package graft

import org.apache.spark.sql.ExtensionsProbe
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.plans.{GraftExtensions, NativeKernelRewrite}

/** The optimizer-rule rung of the §7.3 ladder: the declarative HOF
  * l2/l2Sq pattern is rewritten to the native codegen'd kernel — plan
  * shape, value parity, NULL semantics, and the no-false-positive
  * guarantee. */
class NativeRewriteSpec extends SparkSuite {
  import spark.implicits._

  private def withRule[A](f: => A): A = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ NativeKernelRewrite
    try f finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ eq NativeKernelRewrite)
    }
  }

  private def vecs = Seq(
    (0L, Seq(0.0, 0.0), Seq(3.0, 4.0)),
    (1L, Seq(1.0, 1.0), Seq(1.0, 1.0)),
    (2L, Seq(2.0, 0.0), Seq(0.0, 0.0)))
    .toDF("id", "a", "b")

  test("l2 HOF is rewritten to l2_native; l2Sq to l2sq_native") {
    withRule {
      // repartition keeps ConvertToLocalRelation from pre-evaluating the
      // whole projection over the local fixture before we can look at it
      val src = vecs.repartition(2)
      val l2Plan = src.select(VectorFunctions.l2(col("a"), col("b")).as("d"))
      assert(l2Plan.queryExecution.optimizedPlan.toString.contains("l2_native"))
      val sqPlan = src.select(VectorFunctions.l2Sq(col("a"), col("b")).as("d"))
      assert(sqPlan.queryExecution.optimizedPlan.toString.contains("l2sq_native"))
      assert(!sqPlan.queryExecution.optimizedPlan.toString.contains("aggregate("))
    }
  }

  test("rewritten values are bit-identical to the interpreted HOF") {
    val base = vecs.select(col("id"),
        VectorFunctions.l2(col("a"), col("b")).as("d"),
        VectorFunctions.l2Sq(col("a"), col("b")).as("d2"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val rewritten = withRule {
      vecs.select(col("id"),
          VectorFunctions.l2(col("a"), col("b")).as("d"),
          VectorFunctions.l2Sq(col("a"), col("b")).as("d2"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    }
    assert(base.sortBy(_._1) === rewritten.sortBy(_._1))
    assert(base.find(_._1 == 0L).get._2 === 5.0)
  }

  test("NULL semantics survive the rewrite: length mismatch → NULL") {
    withRule {
      val df = Seq((0L, Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)))
        .toDF("id", "a", "b").repartition(2)
        .select(VectorFunctions.l2(col("a"), col("b")).as("d"))
      assert(df.queryExecution.optimizedPlan.toString.contains("l2_native"))
      assert(df.collect().head.isNullAt(0))
    }
  }

  test("no false positives: a different lambda body is left untouched") {
    withRule {
      // (x+y)*(x−y) is NOT squared L2 — must stay a HOF aggregate
      val df = vecs.select(aggregate(
        zip_with(col("a"), col("b"), (x, y) => (x + y) * (x - y)),
        lit(0.0), (acc, v) => acc + v).as("s"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("l2_native") && !plan.contains("l2sq_native"))
      // and a non-zero initial value must also fall through
      val df2 = vecs.select(aggregate(
        zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(1.0), (acc, v) => acc + v).as("s"))
      assert(!df2.queryExecution.optimizedPlan.toString.contains("native"))
    }
  }

  test("production sessions get the rule via GraftExtensions") {
    // Sessions.local sets spark.sql.extensions — mirror the injection
    // the way L2DistanceSpec mirrors functions: apply the rule object
    // directly to a plan with the HOF pattern
    val plan = vecs.select(VectorFunctions.l2(col("a"), col("b")).as("d"))
      .queryExecution.analyzed
    assert(NativeKernelRewrite(plan).toString.contains("l2_native"))
  }

  test("GraftExtensions injects the rewrite rule and the native functions") {
    val (rules, functions) =
      ExtensionsProbe.inject(new GraftExtensions(), spark)
    assert(rules.contains(NativeKernelRewrite))
    assert(Set("l2_native", "feature_hash_embed", "simhash16",
      "hashed_shingles", "vector_sum").subsetOf(functions))
  }
}

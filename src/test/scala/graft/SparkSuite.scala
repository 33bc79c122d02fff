package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — sbt runs
  * suites in one forked JVM; `getOrCreate` makes this safe under parallel
  * suite execution). Same config as the driver mains ([[Sessions.builder]])
  * but WITHOUT `GraftExtensions`: with its rewrite rule active, the
  * HOF-vs-kernel parity specs (L2DistanceSpec, NativeRewriteSpec) would
  * compare the kernel with itself. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Sessions.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
}

package graft

/** Local smoke of the driver's t1 check: `SparkEntry.entry` rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(8)
    val df = SparkEntry.entry(spark)
    df.show(false)
    println(s"[smoke] entry rows = ${df.count()}")
    // GraftExtensions registration check: native functions reachable via SQL
    val ext = spark.sql(
      """SELECT l2_native(array(0.0D, 3.0D), array(4.0D, 0.0D)) AS l2,
        |  simhash16('hello world') AS sh,
        |  size(feature_hash_embed('a b c', 8)) AS fh,
        |  size(hashed_shingles('a b c d', 3, 4, true)) AS hs""".stripMargin)
      .collect()(0)
    println(s"[smoke] native sql: l2=${ext.getDouble(0)} fh_dim=${ext.getInt(2)} " +
      s"shingles=${ext.getInt(3)}")
    spark.stop()
  }
}

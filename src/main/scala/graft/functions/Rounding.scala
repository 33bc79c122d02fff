package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Bit-stable cross-engine rounding (SURVEY.md §2.8).
  *
  * `round(x, d)` half-up differs between Spark (shortest-decimal BigDecimal)
  * and DuckDB (multiply-based) exactly when the true value lands on a
  * `…5` boundary — which ratio-valued metrics (Jaccard, quality scores)
  * hit routinely. `floor(x·10^d + 0.5)/10^d` over the *identical* IEEE
  * double is deterministic in both engines.
  */
object Rounding {
  def floorRound(c: Column, digits: Int): Column = {
    val p = math.pow(10.0, digits)
    floor(c * p + 0.5) / p
  }
  def floorRound6(c: Column): Column = floorRound(c, 6)

  /** DuckDB spelling of [[floorRound]] for oracle SQL. */
  def floorRoundSql(e: String, digits: Int): String = {
    val p = "1" + ("0" * digits)
    s"floor(($e) * $p.0 + 0.5) / $p.0"
  }
}

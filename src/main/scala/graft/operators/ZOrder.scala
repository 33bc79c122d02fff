package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout: interleave the bits of several bucketed
  * dimensions into one sort key, so rows close in ANY of the dimensions
  * land close in the file order.
  *
  * Why it matters at 100 TB: parquet row-group min/max stats prune scans
  * only along the SORT order. Sorting by (a, b) prunes filters on `a`
  * and does nothing for filters on `b` alone; sorting by the z-value
  * gives every interleaved dimension partial locality, so a filter on
  * any of them skips most row groups (the Delta/Iceberg `ZORDER BY`
  * layout, Morton 1966).
  *
  * The operator works on caller-provided INTEGER bucket columns (ranks,
  * hash buckets, `width_bucket`-style bins — whatever the pipeline's
  * notion of locality is): pure bit arithmetic, codegen'd, shuffle-free;
  * the only cost is the final sort the caller was paying for a layout
  * write anyway. Deterministic ⇒ oracle-checkable (q_zorder).
  */
object ZOrder {

  /** Morton value of `dims` bucket columns, `bits` bits each (dims(0)
    * owns the least-significant interleave slot). Output fits a LONG —
    * requires dims.size × bits ≤ 63. Buckets outside [0, 2^bits) are
    * masked to their low bits (callers bucket first; the mask keeps the
    * key total rather than failing a 100 TB write on one stray row). */
  def zValue(dims: Seq[Column], bits: Int): Column = {
    require(dims.nonEmpty && bits > 0 && dims.size * bits <= 63,
      s"need 0 < dims*bits <= 63, got ${dims.size} x $bits")
    val terms = for {
      b <- 0 until bits
      (d, i) <- dims.zipWithIndex
    } yield shiftleft(
      shiftright(d.cast("long"), b).bitwiseAND(lit(1L)),
      b * dims.size + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** 2-D Hilbert index of two `bits`-bit bucket columns — the
    * space-filling curve with strictly better locality than Morton
    * order (consecutive indexes are always grid-adjacent; Z-order
    * jumps diagonally at every power-of-two boundary), at the cost of
    * a per-level rotation state. The classic xy2d bit-level transform
    * (public domain, e.g. Hamilton's or the Wikipedia formulation):
    * fold over levels s = 2^(bits−1) … 1 carrying (x, y, d) state —
    * one bounded expression per row, all integer arithmetic, so the
    * DuckDB oracle unrolls the same levels as chained column stages
    * and hash-matches exactly. Buckets are masked to their low `bits`
    * like [[zValue]]. */
  def hilbertValue(xCol: Column, yCol: Column, bits: Int): Column =
    graft.plans.HilbertIndex.hilbertNative(xCol, yCol, bits)

  /** Declarative reference formulation of [[hilbertValue]] (slower:
    * `bits` interpreted struct-fold dispatches per row — 45 s for a
    * 15M-row single-task pass at sf10 vs the native loop) — kept as
    * the executable specification, parity-enforced in ProfileSpec. */
  def hilbertValueHof(xCol: Column, yCol: Column, bits: Int): Column = {
    require(bits > 0 && 2 * bits <= 62, s"need 0 < 2*bits <= 62, got $bits")
    val mask = (1L << bits) - 1
    val nm1 = lit(mask)
    val init = struct(
      xCol.cast("long").bitwiseAND(lit(mask)).as("x"),
      yCol.cast("long").bitwiseAND(lit(mask)).as("y"),
      lit(0L).as("d"))
    val sVals = typedlit((0 until bits).reverse.map(k => 1L << k))
    aggregate(sVals, init, (st, s) => {
      val x = st.getField("x"); val y = st.getField("y")
      val d = st.getField("d")
      val rx = when(x.bitwiseAND(s) > 0, 1L).otherwise(0L)
      val ry = when(y.bitwiseAND(s) > 0, 1L).otherwise(0L)
      val d2 = d + s * s * (lit(3L) * rx).bitwiseXOR(ry)
      // ry == 0: reflect when rx == 1 (against the FULL n−1, the
      // Wikipedia xy2d convention), then swap x and y
      struct(
        when(ry === 0,
          when(rx === 1, nm1 - y).otherwise(y)).otherwise(x).as("x"),
        when(ry === 0,
          when(rx === 1, nm1 - x).otherwise(x)).otherwise(y).as("y"),
        d2.as("d"))
    }).getField("d")
  }

  /** n-dimensional Hilbert index (Skilling's transpose algorithm, AIP
    * 2004) of `dims` bucket columns, `bits` bits each — the layout key
    * for 3–4-dim locality (lang × source × time) where [[hilbertValue]]'s
    * 2-D xy2d kernel can't go. Native codegen kernel; the curve property
    * (bijection + unit grid steps) is exhaustively asserted in
    * ProfileSpec for n = 2, 3, 4. At n = 2 the Skilling orientation is a
    * REFLECTION of xy2d — both Hilbert curves, not interchangeable keys
    * within one layout. */
  def hilbertValueN(dims: Seq[Column], bits: Int): Column = {
    require(dims.nonEmpty && bits > 0 && dims.size * bits <= 62,
      s"need 0 < dims*bits <= 62, got ${dims.size} x $bits")
    graft.plans.HilbertNIndex.hilbertNNative(dims, bits)
  }

  /** Declarative reference formulation of [[hilbertValueN]] (interpreted
    * per-row folds — executable specification only, parity-enforced in
    * ProfileSpec; the DuckDB oracle unrolls the same stages). */
  def hilbertValueNHof(dims: Seq[Column], bits: Int): Column = {
    val n = dims.size
    require(n >= 1 && bits > 0 && n * bits <= 62,
      s"need 0 < dims*bits <= 62, got $n x $bits")
    val mask = (1L << bits) - 1
    val x0 = array(dims.map(_.cast("long").bitwiseAND(lit(mask))): _*)
    // inverse undo: fold over (q, i) — q outer msb-first, axis i inner
    val qiSteps = typedlit(for {
      k <- (1 until bits).reverse
      i <- 0 until n
    } yield (1L << k, i.toLong))
    val undone = aggregate(qiSteps, x0, (xs, st) => {
      val q = st.getField("_1")
      val i = st.getField("_2").cast("int")
      val p = q - 1
      val xh = element_at(xs, 1)
      val xi = element_at(xs, i + 1)
      val t = xh.bitwiseXOR(xi).bitwiseAND(p)
      transform(xs, (xj, j) =>
        when(xi.bitwiseAND(q) =!= 0,
          when(j === 0, xh.bitwiseXOR(p)).otherwise(xj))
        .otherwise(
          when(j === 0, xh.bitwiseXOR(t))
            .when(j === i, xi.bitwiseXOR(t))
            .otherwise(xj)))
    })
    // Gray encode: sequential X[i] ^= X[i-1] == prefix-XOR of originals
    val gray = transform(undone, (_, j) =>
      aggregate(slice(undone, lit(1), j + 1), lit(0L),
        (a, b) => a.bitwiseXOR(b)))
    val qs = typedlit((1 until bits).reverse.map(k => 1L << k))
    val t2 = aggregate(qs, lit(0L), (a, q) =>
      when(element_at(gray, n).bitwiseAND(q) =!= 0,
        a.bitwiseXOR(q - 1)).otherwise(a))
    val fin = transform(gray, xj => xj.bitwiseXOR(t2))
    // interleave: level msb-first, axis 0 highest → d = fold(d*2 + bit);
    // the level rides as its 2^k mask (shiftright takes only literal
    // counts — the round-10 shiftleft note)
    val kiSteps = typedlit(for {
      k <- (0 until bits).reverse
      i <- 0 until n
    } yield (1L << k, i.toLong))
    aggregate(kiSteps, lit(0L), (d, st) =>
      d * 2 + when(element_at(fin, st.getField("_2").cast("int") + 1)
        .bitwiseAND(st.getField("_1")) =!= 0, 1L).otherwise(0L))
  }
}

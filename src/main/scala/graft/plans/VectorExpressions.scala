package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Native vector arithmetic (SURVEY.md §2.E5-E7 hot path).
  *
  * Spark's higher-order functions (`zip_with`, `aggregate`) evaluate
  * INTERPRETED — per-row closure dispatch plus an intermediate array
  * allocation per pair. For pairwise similarity that's the entire
  * runtime. These expressions do one allocation-free pass inside
  * whole-stage codegen, with the SAME left-fold IEEE operation order
  * as the higher-order formulation (and the DuckDB `list_reduce`
  * oracle), so results are bit-identical — asserted in NativeExprSpec.
  */
object NativeVec {

  /** Σ a(i)·b(i), index order; null if any element is null or lengths
    * differ (matching zip_with's null-padding → null-result semantics).
    */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Σ (a(i)−b(i))², index order; null semantics as [[dot]]. */
  def sqDist(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }
}

abstract class VecBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // Null is produced even on non-null inputs (length mismatch, null
  // element) — without this, non-nullable children would let codegen
  // elide ev.isNull and the optimizer fold IsNull(this) to false.
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two array<double>, got $other")
    }
}

/** dot_product(array<double>, array<double>) → double. */
case class DotProduct(left: Expression, right: Expression)
    extends VecBinaryExpression {
  override def prettyName: String = "dot_product"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeVec.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName, NOT a fixed name: two dot/sq_dist calls in one
      // generated function would otherwise redeclare the same local,
      // janino rejects it, and the whole projection silently falls
      // back to interpreted mode
      val r = ctx.freshName("vecRes")
      s"""
      java.lang.Double $r = graft.plans.NativeVec.dot($a, $b);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
    """})
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** sq_dist(array<double>, array<double>) → double. */
case class SqDist(left: Expression, right: Expression)
    extends VecBinaryExpression {
  override def prettyName: String = "sq_dist"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeVec.sqDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("vecRes") // see DotProduct: fixed names collide
      s"""
      java.lang.Double $r = graft.plans.NativeVec.sqDist($a, $b);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
    """})
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object NativePq {

  /** Per-subspace argmin codes: vec (length m·d) → int[m], where
    * codes[s] = argmin_c Σ_j (vec[s·d+j] − books[s][c][j])², ties to
    * the LOWEST c (strict `<` keeps the first minimum — the same
    * tie-break as the composed array_position(array_min) form). The
    * fold order per sqDist is the identical left-to-right
    * accumulation, so distances are bit-identical to [[NativeVec
    * .sqDist]] over slices.
    */
  def codes(v: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    val d = books(0)(0).length
    if (v.numElements() != m * d) return null
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cb = books(s)
      var best = 0
      var bestDist = Double.PositiveInfinity
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var acc = 0.0
        var j = 0
        while (j < d) {
          if (v.isNullAt(s * d + j)) return null
          val diff = v.getDouble(s * d + j) - cent(j)
          acc += diff * diff
          j += 1
        }
        if (acc < bestDist) { bestDist = acc; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ADC lookup table: vec (length m·d) → double[m][k] of subspace
    * sq-distances to every centroid — the per-query table a PQ scan
    * indexes with the stored codes. Same fold order as [[codes]].
    */
  def lut(v: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    val d = books(0)(0).length
    if (v.numElements() != m * d) return null
    val rows = new Array[Any](m)
    var s = 0
    while (s < m) {
      val cb = books(s)
      val dists = new Array[Double](cb.length)
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var acc = 0.0
        var j = 0
        while (j < d) {
          if (v.isNullAt(s * d + j)) return null
          val diff = v.getDouble(s * d + j) - cent(j)
          acc += diff * diff
          j += 1
        }
        dists(c) = acc
        c += 1
      }
      rows(s) = new org.apache.spark.sql.catalyst.util.GenericArrayData(dists)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }
}

abstract class PqExpression
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  def books: Array[Array[Array[Double]]]
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<double>, got ${other.catalogString}")
    }
}

/** pq_codes(array<double>) → array<int>: product-quantization codes
  * against a plan-time codebook (m subspaces × k centroids × d dims).
  * Replaces the composed m×k-wide sqDist/array_min/array_position
  * tree: the unrolled form generated ~m·k native calls PER PLAN and
  * janino-recompiled on every Lloyd iteration (each iteration changes
  * the centroid literals), which dominated pqTrain wall-clock. This
  * form is one short generated call; the codebook rides along as a
  * reference object.
  */
case class PqCodes(child: Expression, books: Array[Array[Array[Double]]])
    extends PqExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"
  override protected def nullSafeEval(input: Any): Any =
    NativePq.codes(input.asInstanceOf[ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("books", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("pqRes")
      s"""
      org.apache.spark.sql.catalyst.util.ArrayData $r =
        graft.plans.NativePq.codes($c, $ref);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
    """})
  }
  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** pq_lut(array<double>) → array<array<double>>: the m×k ADC distance
  * table for a query vector against the same plan-time codebook.
  */
case class PqLut(child: Expression, books: Array[Array[Array[Double]]])
    extends PqExpression {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "pq_lut"
  override protected def nullSafeEval(input: Any): Any =
    NativePq.lut(input.asInstanceOf[ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("books", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("pqRes")
      s"""
      org.apache.spark.sql.catalyst.util.ArrayData $r =
        graft.plans.NativePq.lut($c, $ref);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
    """})
  }
  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

object NativeMmr {

  /** Greedy Maximal-Marginal-Relevance selection over ONE query's
    * candidate pool — `pool` is array<struct<cid: long, rel: double,
    * cn: double, cv: array<double>>> sorted ascending (the
    * `sort_array(collect_list(struct(...)))` order). Returns up to `k`
    * picks as array<struct<cid: long, score: double>> in pick order;
    * fewer when the pool runs out.
    *
    * Each pick scores every unpicked element as
    * `lam·rel − oneMinus·ms`, where ms is 0.0 for the first pick and
    * otherwise the `greatest` of sim(el, s) over the picks s so far,
    * in pick order; sim = [[NativeVec.dot]](el.cv, s.cv) /
    * (el.cn · s.cn). Nulls and comparisons follow the Spark
    * expressions this replaces: a null dot or a zero divisor gives a
    * null sim (a zero norm already fails the relevance division under
    * ANSI), `greatest` skips nulls and keeps the earlier value on a
    * tie, and the winner is the `array_max` of struct(score, −cid,
    * el) — doubles compared by `SQLOrderingUtil.compareDoubles` (NaN
    * largest, −0.0 = 0.0), a null score below any value, ties to the
    * smaller cid, and the earlier element kept unless a later one is
    * strictly greater. A picked cid leaves the pool with every
    * element carrying it.
    */
  def select(pool: ArrayData, k: Int, lam: Double,
             oneMinus: Double): ArrayData = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    val n = pool.numElements()
    val els = Array.tabulate(n)(i => pool.getStruct(i, 4))
    val cid = els.map(_.getLong(0))
    def dbl(i: Int, f: Int): java.lang.Double =
      if (els(i).isNullAt(f)) null else els(i).getDouble(f)
    val rel = Array.tabulate(n)(dbl(_, 1))
    val cn = Array.tabulate(n)(dbl(_, 2))
    val cv = els.map(e => if (e.isNullAt(3)) null else e.getArray(3))
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val picked = new Array[Boolean](n)
    // running `greatest` of sim(el, pick) over the picks so far
    val ms = new Array[java.lang.Double](n)
    def cmpScore(a: java.lang.Double, b: java.lang.Double): Int =
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else compareDoubles(a, b)
    def sim(i: Int, j: Int): java.lang.Double = {
      val d = if (cv(i) == null || cv(j) == null) null
        else NativeVec.dot(cv(i), cv(j))
      if (d == null || cn(i) == null || cn(j) == null) null
      else {
        val den = cn(i) * cn(j)
        if (den == 0.0) null else d / den
      }
    }
    var t = 0
    var best = 0
    while (t < k && best >= 0) {
      best = -1
      var bestScore: java.lang.Double = null
      for (i <- 0 until n if !picked(i)) {
        val m: java.lang.Double = if (t == 0) 0.0 else ms(i)
        val score: java.lang.Double =
          if (rel(i) == null || m == null) null
          else lam * rel(i) - oneMinus * m
        val c = if (best < 0) 1 else cmpScore(score, bestScore)
        if (c > 0 || (c == 0 && cid(i) <= cid(best))) {
          best = i; bestScore = score
        }
      }
      if (best >= 0) {
        out += new GenericInternalRow(Array[Any](cid(best), bestScore))
        for (i <- 0 until n if cid(i) == cid(best)) picked(i) = true
        for (i <- 0 until n if !picked(i)) {
          val s = sim(i, best)
          if (s != null && (ms(i) == null || compareDoubles(s, ms(i)) > 0))
            ms(i) = s
        }
      }
      t += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** mmr_select(pool, k, lambdaBp) → array<struct<cid, score>>: the
  * whole greedy MMR selection for one query in one native call (see
  * [[NativeMmr.select]]); scores are in basis points, λ = lambdaBp.
  */
case class MmrSelect(child: Expression, k: Int, lambdaBp: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  private def lam: Double = lambdaBp.toDouble
  private def oneMinus: Double = (10000 - lambdaBp).toDouble
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("score", DoubleType, nullable = true))), containsNull = false)
  override def prettyName: String = "mmr_select"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(Array(StructField(_, LongType, _, _),
          StructField(_, DoubleType, _, _), StructField(_, DoubleType, _, _),
          StructField(_, ArrayType(DoubleType, _), _, _))), _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$prettyName needs " +
        "array<struct<cid:long, rel:double, cn:double, cv:array<double>>>, " +
        s"got ${other.catalogString}")
    }
  override protected def nullSafeEval(input: Any): Any =
    NativeMmr.select(input.asInstanceOf[ArrayData], k, lam, oneMinus)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.NativeMmr.select($c, $k, ${lam}D, ${oneMinus}D);")
  override protected def withNewChildInternal(newChild: Expression): MmrSelect =
    copy(child = newChild)
}

object VectorFunctions {
  def dotProduct(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a),
      GraftBridge.expression(b)))

  def sqDist(a: Column, b: Column): Column =
    GraftBridge.column(SqDist(GraftBridge.expression(a),
      GraftBridge.expression(b)))

  def pqCodes(v: Column, books: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(PqCodes(GraftBridge.expression(v), books))

  def pqLut(v: Column, books: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(PqLut(GraftBridge.expression(v), books))

  def mmrSelect(pool: Column, k: Int, lambdaBp: Int): Column =
    GraftBridge.column(MmrSelect(GraftBridge.expression(pool), k, lambdaBp))
}

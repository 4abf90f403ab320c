package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Bounded top-k buffer: keeps the k largest (score, id) pairs, with
  * deterministic ordering — score DESC, id ASC on ties.
  *
  * Round 10: primitive parallel arrays instead of a PriorityQueue of
  * boxed tuples. This buffer's `add` runs once per CANDIDATE PAIR in
  * the ANN/k-NN family (q_knn_eval: 4M pairs through 2000 buffers) and
  * the tuple-allocating heap dominated the stage profile (~3s of a
  * 3.6s query in the aggregate stage). The losing pair — the common
  * case — now costs one branch against a cached weakest slot, zero
  * allocation; a winning pair pays an O(k) rescan (k ≤ ~100).
  * Semantics are bit-identical (weakest = lowest score, ties broken
  * to the HIGHEST id, replacement iff strictly stronger by
  * (score desc, id asc)) — pinned by PropertySpec's sort-take-k and
  * merge-associativity equivalences and the q_topk_agg hash gate.
  */
final class TopKBuffer(val k: Int) {
  require(k >= 1, "topk_by needs k >= 1")
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var n = 0
  private var wi = 0 // weakest slot, valid once n == k

  private def rescanWeakest(): Unit = {
    var i = 1; wi = 0
    while (i < n) {
      if (scores(i) < scores(wi) ||
          (scores(i) == scores(wi) && ids(i) > ids(wi))) wi = i
      i += 1
    }
  }

  def add(score: Double, id: Long): Unit = {
    if (n < k) {
      scores(n) = score; ids(n) = id; n += 1
      if (n == k) rescanWeakest()
    } else {
      val ws = scores(wi)
      if (score > ws || (score == ws && id < ids(wi))) {
        scores(wi) = score; ids(wi) = id
        rescanWeakest()
      }
    }
  }

  def merge(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.n) { add(other.scores(i), other.ids(i)); i += 1 }
  }

  /** Elements best-first (score desc, id asc). */
  def sorted: Array[(Double, Long)] =
    Array.tabulate(n)(i => (scores(i), ids(i)))
      .sortBy { case (s, id) => (-s, id) }
}

/** topk_by(score, id, k) → array<struct<score double, id bigint>> of the
  * k largest scores per group (SURVEY.md §2 extension).
  *
  * Why not a window + row_number ≤ k: a window must SORT every group's
  * full row set after the shuffle. This aggregate keeps an O(k) heap
  * and — crucially — participates in PARTIAL aggregation, so each map
  * task ships at most k candidates per group across the shuffle. For
  * top-k-neighbors over 1e9 vectors that is the difference between
  * shuffling the corpus and shuffling k rows per query.
  */
case class TopKBy(scoreExpr: Expression, idExpr: Expression, k: Int,
                  mutableAggBufferOffset: Int = 0,
                  inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] {

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType))))
  override def prettyName: String = "topk_by"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = scoreExpr.eval(input)
    val id = idExpr.eval(input)
    if (s != null && id != null)
      buf.add(s.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(a: TopKBuffer, b: TopKBuffer): TopKBuffer = {
    a.merge(b); a
  }

  override def eval(buf: TopKBuffer): Any = {
    val rows: Array[Any] = buf.sorted.map { case (s, id) =>
      InternalRow(s, id)
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + buf.n * 16)
    bb.putInt(buf.k); bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) {
      bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt)
    val n = bb.getInt
    (0 until n).foreach(_ => buf.add(bb.getDouble, bb.getLong))
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKBy =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKBy =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKBy =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}

object TopKBy {
  /** Column API: `df.groupBy(g).agg(topk_by(score, id, 5))`. */
  def topkBy(score: Column, id: Column, k: Int): Column =
    GraftBridge.column(
      TopKBy(GraftBridge.expression(score), GraftBridge.expression(id), k)
        .toAggregateExpression())
}

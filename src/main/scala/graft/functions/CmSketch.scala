package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst AGGREGATE: count-min sketch over a weighted token
  * stream — the mergeable-state counterpart of t12's relational cell
  * table, and (with [[HllEstimate]]) the second proof that the custom
  * aggregate surface covers sketches with MULTI-kilobyte state, not
  * just scalar accumulators.
  *
  * `cm_sketch(tok, weight)` returns the D×W counter table flattened to
  * an array of D·W longs (row-major: cell (depth, bucket) at index
  * depth·W + bucket). Semantics are BIT-IDENTICAL to t12's relational
  * sketch (and therefore to its DuckDB oracle): D=4 seeded
  * `Portable.h60` projections per DISTINCT token — md5("cm<i>|" ++
  * tok), first 15 hex digits as a 60-bit BIGINT, modulo W=64 — with
  * the token's weight added into each row's cell. Pure integer
  * arithmetic end to end, so no rounding discipline is needed.
  *
  * Why it exists when t12 already passes: state. The relational form
  * shuffles one (depth, bucket, n) row per token×depth; this aggregate
  * carries ONE fixed 2 KiB buffer per group through
  * ObjectHashAggregate's partial/merge path, and merge() is cell-wise
  * ADD — the property that lets per-partition / per-day / per-cluster
  * sketches roll up without touching token state again. At 100 TB the
  * sketch build is a map-side combine to one buffer per partition.
  */
case class CmSketch(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with ImplicitCastInputTypes with BinaryLike[Expression] {

  import CmSketch._

  override def inputTypes: Seq[DataType] = Seq(StringType, LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cm_sketch"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](D * W)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val t = left.eval(input)
    val n = right.eval(input)
    if (t != null && n != null) {
      val tok = t.asInstanceOf[UTF8String].toString
      val w = n.asInstanceOf[Long]
      var i = 0
      while (i < D) {
        buf(i * W + bucket(i, tok)) += w
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < D * W) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(D * W * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](D * W)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmSketch =
    copy(left = newLeft, right = newRight)
}

object CmSketch {
  // MUST mirror LlmOps' CM_D/CM_W (t12) — CmSketchSpec and t12b's
  // shared oracle pin the sync.
  val D = 4
  val W = 64

  /** JVM twin of `Portable.h60(tok, s"cm$i|") % W`. */
  private[functions] def bucket(i: Int, tok: String): Int =
    (Portable.h60Jvm(s"cm$i|$tok") % W).toInt

  /** Test hook: CmSketchSpec pins [[bucket]] against the relational
    * `Portable.h60 % W` so the JVM twin cannot drift. */
  def bucketForTest(i: Int, tok: String): Int = bucket(i, tok)

  /** FunctionRegistry entry, injected by [[graft.GraftExtensions]];
    * usable from SQL / expr() as `cm_sketch(tok, weight)`. */
  val description: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("cm_sketch"),
    new ExpressionInfo(classOf[CmSketch].getName, "cm_sketch"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "cm_sketch takes exactly 2 arguments")
      CmSketch(exprs.head, exprs(1))
    })
}

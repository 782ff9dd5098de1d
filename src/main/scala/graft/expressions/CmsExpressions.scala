package graft.expressions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{BinaryLike, TernaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min Sketch (Cormode & Muthukrishnan, "An improved data stream
  * summary: the count-min sketch and its applications", J. Algorithms
  * 2005) as a native mergeable aggregate.
  *
  * The buffer is a flat Long array `[depth, width, total, cells...]`
  * (row-major depth×width). `update` adds 1 to one cell per row at
  * `h_r(value) = murmur3(bytes, seed_r) mod width`; `merge` is
  * cell-wise addition — the sketch is a linear transform of the input
  * multiset, so merging commutes with counting in any order/shape
  * (partition-invariant by construction, unlike Misra-Gries).
  *
  * Estimates ([[CmsEstimate]]) take the MIN cell across rows: never an
  * underestimate, and over-counts only by colliding keys' mass. The
  * classic bound — excess ≤ εN with ε = e/width at confidence
  * 1−(1/e)^depth — is probabilistic over hash choice; with the seeds
  * fixed here it is a deterministic property of a given dataset, which
  * is what the q109 oracle verdicts (each engine checks its OWN sketch,
  * the q30/q90 pattern).
  *
  * Why a sketch: exact counts of a high-cardinality column shuffle one
  * row per distinct value; this buffer is a fixed depth×width grid —
  * what crosses the wire per map task is O(d·w) longs, independent of
  * cardinality, and point-queryable after ONE pass. NULL inputs are
  * skipped (consistent with [[MisraGries]]).
  */
case class CmsSketch(child: Expression, depthExpr: Expression,
                     widthExpr: Expression,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with TernaryLike[Expression] {

  /** The SQL form: children only, buffer offsets 0. */
  def this(child: Expression, depthExpr: Expression, widthExpr: Expression) =
    this(child, depthExpr, widthExpr, 0, 0)

  override def first: Expression = child
  override def second: Expression = depthExpr
  override def third: Expression = widthExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = CmsSketch.name

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != StringType)
      return TypeCheckResult.TypeCheckFailure(
        s"${CmsSketch.name} expects a string column, got ${child.dataType.simpleString}")
    def boundedInt(e: Expression, what: String, lo: Int, hi: Int): Option[String] = {
      if (e.dataType != IntegerType || !e.foldable)
        return Some(s"${CmsSketch.name}: $what must be a foldable int")
      e.eval(null) match {
        case i: java.lang.Integer if i >= lo && i <= hi => None
        case other => Some(s"${CmsSketch.name}: $what must be in [$lo, $hi], got $other")
      }
    }
    boundedInt(depthExpr, "depth", 1, 16)
      .orElse(boundedInt(widthExpr, "width", 8, 1 << 20))
      .map(TypeCheckResult.TypeCheckFailure)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  @transient private lazy val d: Int = depthExpr.eval(null).asInstanceOf[Int]
  @transient private lazy val w: Int = widthExpr.eval(null).asInstanceOf[Int]

  override def createAggregationBuffer(): Array[Long] = {
    val buf = new Array[Long](3 + d * w)
    buf(0) = d; buf(1) = w
    buf
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      buf(2) += 1L
      val bytes = v.asInstanceOf[UTF8String].getBytes
      var r = 0
      while (r < d) {
        buf(3 + r * w + CmsSketch.bucket(bytes, r, w)) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    require(b1(0) == b2(0) && b1(1) == b2(1),
      s"${CmsSketch.name}: merging sketches of different shape")
    var i = 2
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 8)
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    var i = 0
    while (i < buf.length) { out.writeLong(buf(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): CmsSketch =
    copy(child = newFirst, depthExpr = newSecond, widthExpr = newThird)
}

object CmsSketch {
  val name = "cms_sketch"

  /** Column wrapper: the depth×width Count-Min grid (flat
    * `[depth, width, total, cells...]` BIGINT array) over `value`.
    * Requires [[graft.GraftExtensions]] on the session. */
  def cms(value: org.apache.spark.sql.Column, depth: Int, width: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function(name, value,
      org.apache.spark.sql.functions.lit(depth),
      org.apache.spark.sql.functions.lit(width))

  /** Row-r bucket of a value's UTF-8 bytes: murmur3 seeded per row
    * (golden-ratio stride decorrelates rows), floor-mod to [0, width).
    * Shared with [[CmsEstimate]] so sketch and query can't drift. */
  def bucket(bytes: Array[Byte], row: Int, width: Int): Int = {
    val h = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x9E3779B9 * (row + 1) + 17)
    java.lang.Math.floorMod(h, width)
  }
}

/** Point query against a [[CmsSketch]] array: the minimum cell across
  * depth rows — an upper bound on the value's true count, exact when no
  * colliding key shares all `depth` buckets. Scalar, evaluated on the
  * handful of probe rows (never the corpus), so CodegenFallback costs
  * nothing.
  */
case class CmsEstimate(sketch: Expression, value: Expression)
  extends Expression with BinaryLike[Expression] with CodegenFallback {

  override def left: Expression = sketch
  override def right: Expression = value
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = CmsEstimate.name

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!sketch.dataType.isInstanceOf[ArrayType] ||
        sketch.dataType.asInstanceOf[ArrayType].elementType != LongType)
      return TypeCheckResult.TypeCheckFailure(
        s"${CmsEstimate.name} expects an array<bigint> sketch, got ${sketch.dataType.simpleString}")
    if (value.dataType != StringType)
      return TypeCheckResult.TypeCheckFailure(
        s"${CmsEstimate.name} expects a string value, got ${value.dataType.simpleString}")
    TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: InternalRow): Any = {
    val sk = sketch.eval(input)
    val v = value.eval(input)
    if (sk == null || v == null) return null
    val arr = sk.asInstanceOf[ArrayData]
    // any array<bigint> type-checks, so guard the header at runtime: a
    // hand-built array with out-of-bounds d/w or a truncated cell grid
    // answers NULL instead of garbage / ArrayIndexOutOfBounds
    if (arr.numElements() < 3) return null
    val d = arr.getLong(0).toInt
    val w = arr.getLong(1).toInt
    if (d < 1 || d > 16 || w < 8 || w > (1 << 20) ||
        arr.numElements() != 3 + d * w) return null
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var min = Long.MaxValue
    var r = 0
    while (r < d) {
      val cell = arr.getLong(3 + r * w + CmsSketch.bucket(bytes, r, w))
      if (cell < min) min = cell
      r += 1
    }
    min
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(sketch = newLeft, value = newRight)
}

object CmsEstimate {
  val name = "cms_estimate"

  /** Column wrapper: min-cell point estimate of `value`'s count. */
  def estimate(sketch: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function(name, sketch, value)
}

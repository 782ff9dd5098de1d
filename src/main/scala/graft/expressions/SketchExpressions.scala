package graft.expressions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitter sketch as a native aggregate: `k` bounded
  * counters per partial buffer, merged with the Mergeable-Summaries
  * rule (Agarwal et al., "Mergeable Summaries"), evaluating to the
  * candidate value array sorted by (estimate desc, value).
  *
  * Guarantee (survives merging in any order/shape): every value whose
  * true count exceeds n/(k+1) is present in the final candidate set.
  * The estimates themselves — and borderline candidates below that
  * line — depend on partition boundaries, so the sketch output alone
  * is NOT deterministic under repartitioning; [[graft.operators
  * .FrequentItems]] makes the end result exact (and deterministic) by
  * re-counting the candidates in a second pass. Only that verified
  * form is exposed as an oracle query.
  *
  * Why a sketch at all: a plain `groupBy(value).count` shuffles one
  * row per DISTINCT value — at 100 TB a high-cardinality column
  * shuffles billions of groups to answer a question whose result is
  * at most 1/minSupport rows. This buffer is O(k); what crosses the
  * wire per map task is k (value, count) pairs, independent of
  * cardinality.
  *
  * NULL inputs are skipped (a NULL is never a heavy hitter; the
  * verifying operator counts non-null rows for the same reason).
  */
case class MisraGries(child: Expression, kExpr: Expression,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[String, java.lang.Long]]
  with BinaryLike[Expression] {

  /** The SQL form: children only, buffer offsets 0. */
  def this(child: Expression, kExpr: Expression) = this(child, kExpr, 0, 0)

  override def left: Expression = child
  override def right: Expression = kExpr
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = MisraGries.name

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != StringType)
      return TypeCheckResult.TypeCheckFailure(
        s"${MisraGries.name} expects a string column, got ${child.dataType.simpleString}")
    if (kExpr.dataType != IntegerType || !kExpr.foldable)
      return TypeCheckResult.TypeCheckFailure(
        s"${MisraGries.name}: k must be a foldable int")
    kExpr.eval(null) match {
      case i: java.lang.Integer if i >= 1 && i <= 100000 =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${MisraGries.name}: k must be in [1, 100000], got $other")
    }
  }

  @transient private lazy val k: Int = kExpr.eval(null).asInstanceOf[Int]

  override def createAggregationBuffer(): java.util.HashMap[String, java.lang.Long] =
    new java.util.HashMap[String, java.lang.Long]

  override def update(buf: java.util.HashMap[String, java.lang.Long],
                      input: InternalRow): java.util.HashMap[String, java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      val cur = buf.get(s)
      if (cur != null) buf.put(s, cur + 1L)
      else if (buf.size < k) buf.put(s, 1L)
      else {
        // classic MG step: a miss with full counters decrements ALL
        // (the missed value's +1 and one -1 cancel), dropping zeros
        val it = buf.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
        }
      }
    }
    buf
  }

  override def merge(b1: java.util.HashMap[String, java.lang.Long],
                     b2: java.util.HashMap[String, java.lang.Long]): java.util.HashMap[String, java.lang.Long] = {
    val add = b2.entrySet().iterator()
    while (add.hasNext) {
      val e = add.next()
      val cur = b1.get(e.getKey)
      b1.put(e.getKey, if (cur == null) e.getValue else java.lang.Long.valueOf(cur + e.getValue))
    }
    if (b1.size > k) {
      // subtract the (k+1)-th largest counter from all, drop <= 0:
      // the mergeable-summaries offset step — at most k survive and
      // every counter keeps estimate >= true - n/(k+1)
      val vals = new Array[Long](b1.size)
      var i = 0
      val collect = b1.values().iterator()
      while (collect.hasNext) { vals(i) = collect.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val sub = vals(vals.length - 1 - k)
      val it = b1.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val nv = e.getValue - sub
        if (nv <= 0L) it.remove() else e.setValue(nv)
      }
    }
    b1
  }

  override def eval(buf: java.util.HashMap[String, java.lang.Long]): Any = {
    val entries = new Array[(String, Long)](buf.size)
    var i = 0
    val it = buf.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); entries(i) = (e.getKey, e.getValue); i += 1 }
    val sorted = entries.sortBy { case (s, c) => (-c, s) }
    new GenericArrayData(sorted.map { case (s, _) => UTF8String.fromString(s): Any })
  }

  override def serialize(buf: java.util.HashMap[String, java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val bytes = e.getKey.getBytes("UTF-8")
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, java.lang.Long] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val m = new java.util.HashMap[String, java.lang.Long](n * 2)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      m.put(new String(b, "UTF-8"), in.readLong())
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MisraGries =
    copy(child = newLeft, kExpr = newRight)
}

object MisraGries {
  val name = "misra_gries"
}

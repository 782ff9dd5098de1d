package graft.expressions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.Comparator

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Grouped top-k as a native MERGEABLE aggregate: per group, the `k`
  * payloads ranked best by (ord DESC, payload ASC), evaluated to the
  * payload array in that rank order.
  *
  * Why not a window: `row_number() OVER (PARTITION BY g ORDER BY o DESC)
  * <= k` shuffles and SORTS every row of every group to keep k of them
  * — at 100 TB the sort-exchange of the whole input is the cost, and
  * the k survivors are noise. This aggregate keeps an O(k) bounded
  * heap per group per partial; what crosses the wire per map task is
  * at most k (ord, payload) pairs per group — map-side combine does
  * the pruning, the same reason partial sums beat sorting (q10's
  * window remains the right call for rank COLUMNS on all rows; this
  * is for top-k RESULTS).
  *
  * Determinism under any partitioning/merge order: ranking is total —
  * ord desc then payload asc — so the surviving set is a function of
  * the group's multiset alone. Duplicate (ord, payload) rows are real
  * rows and each occupies a slot (matching what the window form
  * emits). The ordinal must be an INTEGRAL type (byte/short/int/long;
  * widened to long — exact): float/double/decimal ordinals are
  * REJECTED at analysis rather than silently truncated — a caller who
  * wants float ranking must choose an explicit order-preserving
  * integer encoding. Payload ties compare in UTF8String BINARY order
  * (code points), the same order Spark's SortOrder gives StringType —
  * so the aggregate equals the window form for ALL strings, including
  * supplementary-plane characters where Java's UTF-16 code-unit order
  * disagrees. NULL ord or payload rows are skipped (SQL aggregates
  * skip nulls; a null never outranks a value).
  *
  * Doubles as DETERMINISTIC per-group sampling: rank by
  * `xxhash64(id)` and the k survivors are a uniform, seed-stable,
  * partition-independent sample of each group (TopKSpec pins it).
  */
case class TopKStrings(first: Expression, second: Expression,
                       third: Expression,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[(Long, UTF8String)]]
  with TernaryLike[Expression] {

  /** The SQL form: children only, buffer offsets 0. */
  def this(first: Expression, second: Expression, third: Expression) =
    this(first, second, third, 0, 0)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = TopKStrings.name

  override def checkInputDataTypes(): TypeCheckResult = {
    val integral = first.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!integral)
      return TypeCheckResult.TypeCheckFailure(
        s"${TopKStrings.name} expects an INTEGRAL ordinal (byte/short/int/" +
          s"long; exact comparison — float/double/decimal would truncate " +
          s"silently, encode them order-preservingly first), got " +
          s"${first.dataType.simpleString}")
    if (second.dataType != StringType)
      return TypeCheckResult.TypeCheckFailure(
        s"${TopKStrings.name} expects a string payload, got ${second.dataType.simpleString}")
    if (third.dataType != IntegerType || !third.foldable)
      return TypeCheckResult.TypeCheckFailure(
        s"${TopKStrings.name}: k must be a foldable int")
    third.eval(null) match {
      case i: java.lang.Integer if i >= 1 && i <= 1000000 =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${TopKStrings.name}: k must be in [1, 1000000], got $other")
    }
  }

  @transient private lazy val k: Int = third.eval(null).asInstanceOf[Int]

  /** Heap comparator: WORST entry first (so poll() evicts it when the
    * buffer overflows k). Worst = smallest ord, then LARGEST payload —
    * the exact inverse of the output ranking. Payloads compare as
    * UTF8String (binary / code-point order), matching Spark SortOrder
    * on StringType — NOT Java String UTF-16 order, which disagrees
    * for supplementary-plane vs U+E000–U+FFFF payloads. */
  private object WorstFirst extends Comparator[(Long, UTF8String)] {
    override def compare(a: (Long, UTF8String), b: (Long, UTF8String)): Int = {
      val c = java.lang.Long.compare(a._1, b._1)
      if (c != 0) c else b._2.compareTo(a._2)
    }
  }

  override def createAggregationBuffer(): java.util.PriorityQueue[(Long, UTF8String)] =
    new java.util.PriorityQueue[(Long, UTF8String)](WorstFirst)

  private def offer(buf: java.util.PriorityQueue[(Long, UTF8String)],
                    e: (Long, UTF8String)): Unit =
    if (buf.size < k) buf.add(e)
    else if (WorstFirst.compare(e, buf.peek()) > 0) { buf.poll(); buf.add(e) }

  override def update(buf: java.util.PriorityQueue[(Long, UTF8String)],
                      input: InternalRow): java.util.PriorityQueue[(Long, UTF8String)] = {
    val o = first.eval(input)
    val p = second.eval(input)
    if (o != null && p != null)
      // clone(): the UTF8String may view a reused unsafe-row buffer
      offer(buf, (o.asInstanceOf[Number].longValue(),
        p.asInstanceOf[UTF8String].clone()))
    buf
  }

  override def merge(b1: java.util.PriorityQueue[(Long, UTF8String)],
                     b2: java.util.PriorityQueue[(Long, UTF8String)]): java.util.PriorityQueue[(Long, UTF8String)] = {
    val it = b2.iterator()
    while (it.hasNext) offer(b1, it.next())
    b1
  }

  override def eval(buf: java.util.PriorityQueue[(Long, UTF8String)]): Any = {
    val arr = new Array[(Long, UTF8String)](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    // output rank order: best first (ord desc, payload asc)
    java.util.Arrays.sort(arr, WorstFirst.reversed())
    new GenericArrayData(arr.map(e => e._2: Any))
  }

  override def serialize(buf: java.util.PriorityQueue[(Long, UTF8String)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeLong(e._1)
      val bytes = e._2.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[(Long, UTF8String)] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val o = in.readLong()
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.add((o, UTF8String.fromBytes(b)))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKStrings =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKStrings =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): TopKStrings =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object TopKStrings {
  val name = "topk_str"

  /** Column wrapper: top-`k` `payload`s per group by (`ord` desc,
    * payload asc), as an array in rank order. Requires
    * [[graft.GraftExtensions]] on the session. The ordinal must be an
    * integral column — float/double/decimal fail analysis instead of
    * being truncated silently (callers who want float ranking must
    * pick an explicit order-preserving integer encoding). */
  def topk(ord: Column, payload: Column, k: Int): Column =
    call_function(name, ord, payload, lit(k))
}

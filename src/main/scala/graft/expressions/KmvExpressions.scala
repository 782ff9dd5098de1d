package graft.expressions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** KMV (k-minimum-values) distinct sketch as a native MERGEABLE
  * aggregate: per group, the `k` smallest DISTINCT values of a long
  * hash column, evaluated to a sorted-ascending array.
  *
  * Why this next to q92's HLL: HLL registers support UNION only —
  * max() of registers loses which elements met. KMV keeps the k
  * smallest hash VALUES, and a uniform hash makes those a bottom-k
  * sample of the distinct set, which supports SET ALGEBRA:
  *   - union: the k smallest of the two sketches' union is exactly
  *     the KMV sketch of A ∪ B (composable from the arrays alone);
  *   - distinct estimate: with θ = k-th minimum as a fraction of the
  *     hash space, E[distinct] = (k-1)/θ (Beyer et al., SIGMOD'07);
  *   - intersection: a union-sketch member is in A ∩ B iff it appears
  *     in BOTH input sketches (a sketch member IS an element of that
  *     side — no false positives), so n_common/k estimates the
  *     Jaccard and n_common/k · est(∪) the intersection size.
  * That is the "how much of snapshot B is already in snapshot A"
  * question a training-data pipeline asks before paying for a full
  * dedup pass — answered from two k-long arrays per group instead of
  * a corpus-sized join.
  *
  * Determinism: the k smallest distinct values are a pure function of
  * the group's value SET — no RNG, no insertion-order dependence, no
  * merge-order dependence (min-k of a set is associative/commutative),
  * so any partitioning gives byte-identical output and a SQL engine
  * can replay the sketch EXACTLY (the q163 oracle does — unlike HLL,
  * where cross-engine checks must settle for an accuracy band).
  *
  * Scale shape: the buffer is a bounded O(k) tree per group per
  * partial; map-side combine prunes before the exchange, so at most
  * k longs per (group, map task) cross the wire — the same reason
  * TopKStrings beats a window for top-k RESULTS. Duplicate hashes
  * occupy ONE slot (set semantics — the sketch estimates DISTINCT
  * cardinality). NULL inputs are skipped (SQL aggregate convention;
  * also how one sketch per side falls out of `when(side, h)` in a
  * single grouped pass).
  */
case class KmvMinima(left: Expression, right: Expression,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with BinaryLike[Expression] {

  /** The SQL form: children only, buffer offsets 0. */
  def this(left: Expression, right: Expression) = this(left, right, 0, 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = KmvMinima.name

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType != LongType)
      return TypeCheckResult.TypeCheckFailure(
        s"${KmvMinima.name} expects a LONG hash column (hash first — the " +
          s"estimator needs a uniform key space), got ${left.dataType.simpleString}")
    if (right.dataType != IntegerType || !right.foldable)
      return TypeCheckResult.TypeCheckFailure(
        s"${KmvMinima.name}: k must be a foldable int")
    right.eval(null) match {
      case i: java.lang.Integer if i >= 1 && i <= 65536 =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${KmvMinima.name}: k must be in [1, 65536], got $other")
    }
  }

  @transient private lazy val k: Int = right.eval(null).asInstanceOf[Int]

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def offer(buf: java.util.TreeSet[java.lang.Long], v: Long): Unit = {
    // reject early without mutating: v can only enter a full sketch by
    // beating the current maximum (TreeSet.add dedups re-offers)
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last()) { if (buf.add(v)) { buf.pollLast(); () } }
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = left.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
                     b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b2.iterator()
    while (it.hasNext) offer(b1, it.next())
    b1
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 } // ascending
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) out.writeLong(it.next())
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMinima =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMinima =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KmvMinima =
    copy(left = newLeft, right = newRight)
}

object KmvMinima {
  val name = "kmv_minima"

  /** The 60-bit hash space the house KMV convention draws from:
    * `conv(substring(md5(x), 1, 15), 16, 10)` — 15 hex chars, positive
    * in both Spark's long and DuckDB's BIGINT. */
  val HashSpace60: Double = 1.152921504606846976e18 // 2^60

  /** Column wrapper: the `k` smallest distinct values of long-hash
    * column `h` per group, sorted ascending. Requires
    * [[graft.GraftExtensions]] on the session. */
  def kmvMinima(h: Column, k: Int): Column =
    call_function(name, h, lit(k))

  /** The (k−1)/θ distinct estimate over a sketch array (Beyer et al.
    * SIGMOD'07), floor-quantized to a long. A sketch still below k
    * members IS the group's distinct set, so its size is the exact
    * count. The float path is ONE exactly-representable double product
    * ((k−1)·2^60 has ≤ 16 significant bits for k ≤ 65536), ONE IEEE
    * division, ONE floor — the q157 determinism recipe, replayable
    * verbatim in any IEEE-754 engine. */
  def kmvEstimate(mins: Column, k: Int,
                  hashSpace: Double = HashSpace60): Column = {
    import org.apache.spark.sql.functions.{element_at, floor, size, when}
    when(size(mins) < k, size(mins).cast("long"))
      .otherwise(floor(lit((k - 1).toDouble) * lit(hashSpace) /
        element_at(mins, k).cast("double")).cast("long"))
  }
}

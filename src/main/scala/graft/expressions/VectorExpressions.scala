package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType}

/** Native Catalyst expression for the embedding hot path: float-array
  * dot product in double precision.
  *
  * The composed form (`aggregate(zip_with(a, b, (x, y) => x*y), …)`)
  * is correct but interpreted — higher-order functions don't codegen,
  * and each evaluation allocates an intermediate product array. This
  * expression emits a tight fused loop via doGenCode (inside the
  * whole-stage-codegen span), reading both arrays' primitive storage
  * directly: no allocation, no boxing. Accumulation order is index
  * 0..n-1 with floats widened to double — bit-identical to the
  * composed form, INCLUDING null semantics: unequal lengths yield NULL
  * (zip_with pads with null, null products nullify the sum) and a null
  * element on either side yields NULL (null propagates through the
  * aggregate's `+`).
  *
  * Registered through the PUBLIC extension point
  * ([[graft.GraftExtensions]] → `SparkSessionExtensions.injectFunction`)
  * and invoked via `call_function`, so no `private[sql]` API is used.
  */
case class DotProductFloat(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // null even on non-null inputs (length mismatch / null elements)
  override def nullable: Boolean = true
  override def prettyName: String = DotProductFloat.name

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${DotProductFloat.name} expects (array<float>, array<float>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      sum += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $sum;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

object DotProductFloat {
  val name = "dot_product_float"
}

/** All `tables`×`planes` LSH sign-bucket keys of a vector in ONE fused
  * pass — the multi-probe bucketing's per-row hot path.
  *
  * The composed form builds 16·tables `when(dot_product_float(v, h)>=0)`
  * branches, each over a 64-literal array — an expression tree of ~8k
  * nodes whose per-row interpreted evaluation dominated the 10×-scale
  * bench (~1.3 ms/row). Here the ±1 hyperplane matrix (md5-parity
  * constants, identical values to [[graft.operators.Similarity
  * .hyperplane]]) is materialized ONCE per operator instance and each
  * row does tables·planes·dims fused multiply-adds.
  *
  * Key format matches the composed form: "table:bitstring" with
  * bit '1' iff dot >= 0. Parity details: a vector whose length differs
  * from `dims`, or with a null element, gets bit '0' (the composed
  * form's NULL dot falls into `otherwise("0")`); a NULL vector yields
  * NULL (the row leaves the pipeline at the explode — a null vector
  * can never be a near-duplicate of anything).
  */
case class SignBucketKeys(vec: Expression, tables: Expression,
                          planes: Expression, dims: Expression)
  extends Expression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def children: Seq[Expression] = Seq(vec, tables, planes, dims)
  override def nullable: Boolean = vec.nullable
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = SignBucketKeys.name

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    def lit(e: Expression, what: String): Either[String, Int] =
      if (e.dataType != org.apache.spark.sql.types.IntegerType || !e.foldable)
        Left(s"$what must be a foldable int")
      else e.eval(null) match {
        case i: Int if i > 0 => Right(i)
        case other => Left(s"$what must be a non-null int > 0, got $other")
      }
    if (!vecOk)
      TypeCheckResult.TypeCheckFailure(
        s"${SignBucketKeys.name} expects array<float> vector, got ${vec.dataType.simpleString}")
    else (for {
      t <- lit(tables, "tables")
      p <- lit(planes, "planes")
      _ <- lit(dims, "dims")
      _ <- if (t.toLong * p <= 4096L) Right(())
           else Left(s"tables*planes too large: ${t.toLong * p}")
    } yield ()) match {
      case Right(_) => TypeCheckResult.TypeCheckSuccess
      case Left(msg) => TypeCheckResult.TypeCheckFailure(s"${SignBucketKeys.name}: $msg")
    }
  }

  @transient private lazy val nTables: Int = tables.eval(null).asInstanceOf[Int]
  @transient private lazy val nPlanes: Int = planes.eval(null).asInstanceOf[Int]
  @transient private lazy val nDims: Int = dims.eval(null).asInstanceOf[Int]

  /** ±1 hyperplane matrix, from the ONE canonical derivation
    * ([[SignBucketKeys.hyperplane]] — `Similarity.hyperplane`
    * delegates to the same function). */
  @transient private lazy val matrix: Array[Array[Float]] =
    Array.tabulate(nTables * nPlanes)(plane =>
      SignBucketKeys.hyperplane(plane, nDims).map(_.toFloat).toArray)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) return null
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    // length mismatch or null element → NULL dot → bit '0' (composed-form parity)
    var hasNull = false
    val doubles = new Array[Double](n)
    var i = 0
    while (i < n && !hasNull) {
      if (x.isNullAt(i)) hasNull = true else doubles(i) = x.getFloat(i).toDouble
      i += 1
    }
    val degenerate = hasNull || n != nDims
    val keys = new Array[Any](nTables)
    var l = 0
    while (l < nTables) {
      val sb = new java.lang.StringBuilder(nPlanes + 4)
      sb.append(l).append(':')
      var p = 0
      while (p < nPlanes) {
        if (degenerate) sb.append('0')
        else {
          val h = matrix(l * nPlanes + p)
          var sum = 0.0
          var j = 0
          while (j < nDims) { sum += doubles(j) * h(j); j += 1 }
          sb.append(if (sum >= 0) '1' else '0')
        }
        p += 1
      }
      keys(l) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      l += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(keys)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SignBucketKeys =
    copy(vec = newChildren(0), tables = newChildren(1),
      planes = newChildren(2), dims = newChildren(3))
}

object SignBucketKeys {
  val name = "sign_bucket_keys"

  /** Canonical fixed ±1 hyperplane: sign from md5 parity of
    * "plane:dim". THE single source of the constant recipe — the
    * operator layer (`Similarity.hyperplane`) and this expression's
    * matrix must agree bit-for-bit for the LSH oracles to hold. */
  def hyperplane(plane: Int, dims: Int): Seq[Double] =
    (0 until dims).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$plane:$i".getBytes("UTF-8"))
      if ((md(0) & 1) == 0) 1.0 else -1.0
    }
}

/** Elementwise sum of BIGINT arrays as a native MERGEABLE aggregate:
  * per group, `vecsum_long(arr)` returns the array whose i-th element
  * is the exact sum of every input row's i-th element.
  *
  * Why not posexplode + groupBy(dim): that shape multiplies the
  * exchange by the dimensionality (64 rows per vector) and re-groups;
  * this aggregate keeps ONE Array[Long] accumulator per group per
  * partial — map-side combine reduces each map task's contribution to
  * a single array per group, and merges are elementwise adds
  * (associative + commutative ⇒ partition-invariant, the CMS
  * linear-sketch argument). The k-means centroid update rides this:
  * its per-iteration exchange is k arrays, not n·dims rows.
  *
  * All input arrays in a group must share one length (loud error
  * otherwise — silently zero-padding would corrupt centroids); null
  * arrays and null elements are skipped (SQL aggregate convention;
  * a null element skips only its dimension). Empty groups eval to
  * NULL like built-in sums.
  */
case class VecSumLong(child: Expression,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  /** The SQL form: children only, buffer offsets 0. */
  def this(child: Expression) = this(child, 0, 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = VecSumLong.name

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType | IntegerType | ShortType | ByteType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${VecSumLong.name} expects array<integral>, got ${other.simpleString}")
  }

  /** Empty sentinel = "no rows seen" (a real 0-dim array can't occur:
    * the first non-null input fixes the length). */
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    val acc = if (buf.length == 0) new Array[Long](n) else buf
    if (acc.length != n)
      throw new IllegalStateException(
        s"${VecSumLong.name}: inconsistent array lengths in one group " +
          s"(${acc.length} vs $n)")
    val et = child.dataType.asInstanceOf[ArrayType].elementType
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) acc(i) += (et match {
        case LongType => arr.getLong(i)
        case IntegerType => arr.getInt(i).toLong
        case ShortType => arr.getShort(i).toLong
        case ByteType => arr.getByte(i).toLong
        case _ => 0L
      })
      i += 1
    }
    acc
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    if (b2.length == 0) return b1
    if (b1.length == 0) return b2
    if (b1.length != b2.length)
      throw new IllegalStateException(
        s"${VecSumLong.name}: inconsistent array lengths across partials " +
          s"(${b1.length} vs ${b2.length})")
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    if (buf.length == 0) null else new GenericArrayData(buf.map(x => x: Any))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
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

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VecSumLong =
    copy(child = newChild)
}

object VecSumLong {
  val name = "vecsum_long"

  /** Column wrapper: elementwise exact BIGINT sum of an integral-array
    * column per group. Requires [[graft.GraftExtensions]]. */
  def vecSum(arr: Column): Column = call_function(name, arr)
}

object VectorExpressions {
  /** Column wrapper: dot(a, b) in double, fused-loop codegen. Requires
    * [[graft.GraftExtensions]] on the session (all engine entry points
    * install it). */
  def dotF(a: Column, b: Column): Column =
    call_function(DotProductFloat.name, a, b)

  /** Column wrapper: all multi-probe sign-bucket keys of a vector
    * ("l:bits" strings), one fused pass. */
  def signBucketKeysF(vec: Column, tables: Int, planes: Int, dims: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(SignBucketKeys.name, vec, lit(tables), lit(planes), lit(dims))
  }
}

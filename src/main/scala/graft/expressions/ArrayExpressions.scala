package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}

/** All ordered index pairs `(a[i], a[j]), i < j` of an array, as
  * `array<struct<ia, ib>>` — the market-basket candidate generator's
  * per-row hot path ([[graft.operators.AssocRules]]).
  *
  * The composed form
  * `flatten(transform(sequence(0, n-2), i -> transform(slice(a, i+2, n),
  * y -> struct(element_at(a, i+1), y))))` is correct but allocates
  * O(n²) intermediate ARRAYS per input row (one `sequence`, n `slice`
  * copies, n inner `transform` buffers, one `flatten` copy) on top of
  * the O(n²) output structs, all in interpreted higher-order-function
  * evaluation — measured as the dominant stage of the q131 rule mine at
  * the 100× decade (14 s of 24). This expression decodes each element
  * once and emits the output structs in ONE pass with no intermediate
  * allocation. Pair order is (i, j) index order, identical to the
  * composed form, so results (and downstream aggregate hashes) are
  * unchanged.
  *
  * CodegenFallback (the [[SignBucketKeys]] precedent): the output is an
  * array of structs, which has no primitive codegen path; the win is
  * algorithmic (allocation count), not branch elimination. Registered
  * through the public extension point ([[graft.GraftExtensions]]) and
  * invoked via `call_function` — no `private[sql]` API.
  */
case class ArrayPairs(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def prettyName: String = ArrayPairs.name

  @transient private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val elemNullable: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("ia", elemType, elemNullable),
      StructField("ib", elemType, elemNullable))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${ArrayPairs.name} expects an array, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // n is a basket size by contract (bounded upstream), but guard the
    // quadratic explicitly: 65536 elements → ~2^31 pairs overflows the
    // output array — fail loudly instead of wrapping
    require(n < 65536,
      s"${ArrayPairs.name}: input array has $n elements; " +
        s"n*(n-1)/2 pairs would overflow — bound or pre-filter upstream")
    // decode each element ONCE (ArrayData.get re-walks offsets per call)
    val vals = new Array[Any](n)
    var i = 0
    while (i < n) {
      vals(i) = if (arr.isNullAt(i)) null else arr.get(i, elemType)
      i += 1
    }
    // size computed in LONG then narrowed: for n in [46342, 65535] —
    // inside the guard above — the Int product n*(n-1) wraps negative
    // and threw NegativeArraySizeException instead of working
    val out = new Array[Any]((n.toLong * (n - 1) / 2).toInt)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](vals(i), vals(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayPairs =
    copy(child = newChild)
}

/** `|A ∩ B|` of two SORTED ascending SETS (distinct elements, no
  * nulls) of BIGINT or STRING as one two-pointer merge — the triangle
  * counter's ([[graft.operators.Graph]]) and the containment
  * verifier's ([[graft.operators.Dedup.containmentPairs]]) per-row
  * hot path.
  *
  * The built-in `size(array_intersect(a, b))` is semantically
  * identical on set inputs but builds a hash set of one side PER ROW
  * and materializes the intersection ARRAY it only gets sized — for
  * the q111 basket graph that per-row allocation dominated the
  * intersection stage at the 100× decade. This expression reads both
  * arrays' storage directly and counts matches in one O(|A|+|B|)
  * pass: no hash set, no intermediate array — and unlike the hash
  * form it codegens into the enclosing whole-stage span (the
  * [[DotProductFloat]] precedent). The STRING variant (r19, the q89
  * verify stage) compares UTF8String bytes — the SAME binary
  * collation `sort_array` orders by, so sorted-input merging is
  * exact.
  *
  * Contract: both inputs ascending-sorted and duplicate-free (what
  * `sort_array(collect_list(...))` over distinct values yields — the
  * adjacency build). On unsorted/duplicated input the count is
  * undefined by design; the operator owns the invariant, and the spec
  * pins parity against `size(array_intersect)` on set inputs.
  * Null ELEMENTS are rejected by the type check (`containsNull` must
  * be false); null ARRAYS propagate null like every binary expression.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = SortedIntersectCount.name

  private def elemOf(t: DataType): Option[DataType] = t match {
    case ArrayType(e @ (LongType | StringType), containsNull)
      if !containsNull => Some(e)
    case _ => None
  }

  @transient private lazy val isString: Boolean =
    elemOf(left.dataType).contains(StringType)

  override def checkInputDataTypes(): TypeCheckResult =
    (elemOf(left.dataType), elemOf(right.dataType)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"${SortedIntersectCount.name} expects two array<bigint> or two " +
          s"array<string> with non-nullable elements, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val an = x.numElements()
    val bn = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    if (isString) {
      while (i < an && j < bn) {
        val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (cmp < 0) i += 1
        else if (cmp > 0) j += 1
        else { c += 1L; i += 1; j += 1 }
      }
    } else {
      while (i < an && j < bn) {
        val xv = x.getLong(i)
        val yv = y.getLong(j)
        if (xv < yv) i += 1
        else if (xv > yv) j += 1
        else { c += 1L; i += 1; j += 1 }
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val an = ctx.freshName("an")
      val bn = ctx.freshName("bn")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val body =
        if (isString) {
          val cmp = ctx.freshName("cmp")
          s"""
             |  UTF8String $xv = $a.getUTF8String($i);
             |  UTF8String $yv = $b.getUTF8String($j);
             |  int $cmp = $xv.compareTo($yv);
             |  if ($cmp < 0) { $i++; }
             |  else if ($cmp > 0) { $j++; }
             |  else { $c++; $i++; $j++; }
           """.stripMargin
        } else {
          s"""
             |  long $xv = $a.getLong($i);
             |  long $yv = $b.getLong($j);
             |  if ($xv < $yv) { $i++; }
             |  else if ($xv > $yv) { $j++; }
             |  else { $c++; $i++; $j++; }
           """.stripMargin
        }
      s"""
         |int $an = $a.numElements();
         |int $bn = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $an && $j < $bn) {
         |$body
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  val name = "sorted_intersect_count"
}

object ArrayPairs {
  val name = "array_pairs"
}

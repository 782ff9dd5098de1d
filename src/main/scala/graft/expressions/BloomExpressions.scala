package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe against a serialized [[BloomFilter]] sketch — the
  * per-row half of bloom-pruned joins ([[graft.operators.BloomJoin]]).
  *
  * The sketch arrives as a foldable BINARY argument (the driver builds
  * it once from the join's build side and embeds it in the plan), is
  * deserialized ONCE per operator instance into a `@transient lazy val`,
  * and codegen references that live object via `addReferenceObj` — so
  * the per-row cost is exactly `BloomFilter.mightContain*` inside the
  * whole-stage-codegen span, with no per-row deserialization and no UDF.
  *
  * Null semantics: NULL key → NULL (a null key never equi-joins, and the
  * caller's join discards the row either way). False positives are the
  * sketch's contract — callers must re-verify with an exact join, which
  * is precisely what [[graft.operators.BloomJoin.prunedJoin]] does.
  *
  * Key types: BIGINT/INT probe `mightContainLong` (matching
  * `BloomFilter.putLong`); STRING probes the UTF-8 bytes
  * (`mightContainBinary`, matching `putString`'s encoding).
  */
case class BloomMightContain(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = BloomMightContain.name

  override def checkInputDataTypes(): TypeCheckResult = {
    val keyOk = left.dataType match {
      case LongType | IntegerType | StringType => true
      case _ => false
    }
    if (!keyOk)
      TypeCheckResult.TypeCheckFailure(
        s"${BloomMightContain.name} expects a bigint/int/string key, " +
          s"got ${left.dataType.simpleString}")
    else if (right.dataType != BinaryType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"${BloomMightContain.name} expects a foldable binary sketch, " +
          s"got ${right.dataType.simpleString}")
    else right.eval(null) match {
      case null => TypeCheckResult.TypeCheckFailure(
        s"${BloomMightContain.name}: the sketch must not be NULL")
      case _ => TypeCheckResult.TypeCheckSuccess
    }
  }

  /** Deserialized once per instance (per task after serialization), not
    * per row. */
  @transient lazy val bloom: BloomFilter = {
    val bytes = right.eval(null).asInstanceOf[Array[Byte]]
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
  }

  override def nullSafeEval(key: Any, ignored: Any): Any = left.dataType match {
    case LongType => bloom.mightContainLong(key.asInstanceOf[Long])
    case IntegerType => bloom.mightContainLong(key.asInstanceOf[Int].toLong)
    case StringType => bloom.mightContainBinary(key.asInstanceOf[UTF8String].getBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the live deserialized sketch rides along as a codegen reference —
    // per-row work is ONE mightContain call inside the codegen span
    val bloomRef = ctx.addReferenceObj("bloom", bloom, classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (key, _) => {
      val probe = left.dataType match {
        case LongType => s"$bloomRef.mightContainLong($key)"
        case IntegerType => s"$bloomRef.mightContainLong((long) $key)"
        case StringType => s"$bloomRef.mightContainBinary($key.getBytes())"
      }
      s"${ev.value} = $probe;"
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

object BloomMightContain {
  val name = "bloom_might_contain"

  /** Column wrapper. `sketchBytes` must be a foldable binary column
    * (normally `lit(serializedBloom)`). */
  def mightContain(key: Column, sketchBytes: Column): Column =
    call_function(name, key, sketchBytes)
}

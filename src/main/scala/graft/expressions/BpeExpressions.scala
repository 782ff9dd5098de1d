package graft.expressions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE encoding: tokenize the lowercased text into [a-z]+ words
  * (exactly the [[AzWords]] / `words()` tokenization the trainer
  * used), split each word into characters, and run one left-to-right
  * merge pass per learned rule in training order — greedy,
  * non-overlapping ("aaa" under (a,a) → ["aa", "a"]), byte-for-byte
  * the semantics of [[graft.operators.Bpe.applyMerge]] folded over the
  * rule list, which survives as the composed parity reference
  * (`Composed.bpeEncode` in the test sources — an interpreted HOF
  * layer PER MERGE, so it exists for the spec, not the corpus).
  *
  * One fused JVM loop per row: O(words × merges × word-length) with a
  * reused scratch buffer, no per-merge Column tree. Merges arrive as a
  * foldable array of "a b" strings (symbols are [a-z]+ so the space
  * separator is unambiguous); the rule list parses once per executor,
  * not per row.
  */
case class BpeEncode(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = BpeEncode.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType &&
        right.dataType == ArrayType(StringType, containsNull = false) &&
        right.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${BpeEncode.name} expects (string, foldable array<string> of 'a b' merges)")

  @transient private lazy val rules: Array[(String, String)] = {
    val arr = right.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    Array.tabulate(arr.numElements()) { i =>
      val s = arr.getUTF8String(i).toString
      val sp = s.indexOf(' ')
      require(sp > 0 && sp < s.length - 1,
        s"malformed merge rule '$s' — expected 'a b'")
      (s.substring(0, sp), s.substring(sp + 1))
    }
  }

  override def nullSafeEval(text: Any, mergesAny: Any): Any = {
    val lowered = text.asInstanceOf[UTF8String].toLowerCase.toString
    val out = mutable.ArrayBuffer.empty[Any]
    val syms = mutable.ArrayBuffer.empty[String]
    val next = mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = lowered.length
    while (i < n) {
      val c = lowered.charAt(i)
      if (c >= 'a' && c <= 'z') {
        var j = i + 1
        while (j < n && lowered.charAt(j) >= 'a' && lowered.charAt(j) <= 'z') j += 1
        // one word [i, j): chars, then one pass per rule in order
        syms.clear()
        var p = i
        while (p < j) { syms += lowered.substring(p, p + 1); p += 1 }
        var r = 0
        while (r < rules.length && syms.length > 1) {
          val (a, b) = rules(r)
          next.clear()
          var s = 0
          while (s < syms.length) {
            if (s + 1 < syms.length && syms(s) == a && syms(s + 1) == b) {
              next += a + b; s += 2 // greedy, non-overlapping
            } else { next += syms(s); s += 1 }
          }
          syms.clear(); syms ++= next
          r += 1
        }
        syms.foreach(t => out += UTF8String.fromString(t))
        i = j
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeEncode =
    copy(left = newLeft, right = newRight)
}

object BpeEncode {
  val name = "bpe_encode"

  def encode(text: Column, merges: Seq[(String, String)]): Column =
    call_function(name, text,
      org.apache.spark.sql.functions.array(
        merges.map { case (a, b) => org.apache.spark.sql.functions.lit(s"$a $b") }: _*))
}

package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.expressions.{ArrayPairs, SortedIntersectCount, BloomMightContain, BpeEncode, CmsEstimate, CmsSketch, DeletionVariants, DotProductFloat, MarkupClean, QcFeatures, RepetitionStats, SpanCut, TextStatsExpr, KmvMinima, LangId, Lev1Dist, MinHashSigs, MisraGries, NfcNormalize, SignBucketKeys, SimHashBits, StopHits, TopKStrings, VecSumLong, WinnowFingerprints, WordShingles}

/** Engine extensions, installed via the public extension point:
  * `withExtensions(new GraftExtensions)` on a session builder (in
  * process; [[Sessions.local]] does this), or
  * `spark.sql.extensions=graft.GraftExtensions` (config/submit).
  *
  * Registers the native expressions of [[GraftExtensions.functions]]
  * (SQL-callable and used by the operators through `call_function`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  /** Spark's own reflective builder: it calls the constructor whose
    * parameters are all `Expression`s and match the argument count, and
    * fails analysis with `WRONG_NUM_ARGS` when none does. */
  private def fn[T <: Expression : ClassTag](name: String): SparkSessionExtensions#FunctionDescription = {
    val (info, builder) = FunctionRegistryBase.build[T](name, since = None)
    (FunctionIdentifier(name), info, builder)
  }

  /** Every native function, once. */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    fn[DotProductFloat](DotProductFloat.name),
    fn[WordShingles](WordShingles.name),
    fn[SimHashBits](SimHashBits.name),
    fn[LangId](LangId.name),
    fn[StopHits](StopHits.name),
    fn[MinHashSigs](MinHashSigs.name),
    fn[NfcNormalize](NfcNormalize.name),
    fn[SignBucketKeys](SignBucketKeys.name),
    fn[BloomMightContain](BloomMightContain.name),
    fn[MisraGries](MisraGries.name),
    fn[TopKStrings](TopKStrings.name),
    fn[VecSumLong](VecSumLong.name),
    fn[WinnowFingerprints](WinnowFingerprints.name),
    fn[BpeEncode](BpeEncode.name),
    fn[TextStatsExpr](TextStatsExpr.name),
    fn[Lev1Dist](Lev1Dist.name),
    fn[DeletionVariants](DeletionVariants.name),
    fn[CmsSketch](CmsSketch.name),
    fn[CmsEstimate](CmsEstimate.name),
    fn[ArrayPairs](ArrayPairs.name),
    fn[SortedIntersectCount](SortedIntersectCount.name),
    fn[KmvMinima](KmvMinima.name),
    fn[RepetitionStats](RepetitionStats.name),
    fn[QcFeatures](QcFeatures.name),
    fn[MarkupClean](MarkupClean.name),
    fn[SpanCut](SpanCut.name))
}

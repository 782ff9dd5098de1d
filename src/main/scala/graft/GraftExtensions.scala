package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.expressions.{ArrayPairs, SortedIntersectCount, BloomMightContain, BpeEncode, CmsEstimate, CmsSketch, DeletionVariants, DotProductFloat, MarkupClean, QcFeatures, RepetitionStats, SpanCut, TextStatsExpr, KmvMinima, LangId, Lev1Dist, MinHashSigs, MisraGries, NfcNormalize, SignBucketKeys, SimHashBits, StopHits, TopKStrings, VecSumLong, WinnowFingerprints, WordShingles}

/** Engine extensions, installed via the public extension point:
  * `withExtensions(new GraftExtensions)` on a session builder (in
  * process; [[Sessions.local]] does this), or
  * `spark.sql.extensions=graft.GraftExtensions` (config/submit).
  *
  * Currently registers the native expressions (SQL-callable and used by
  * the operators through `call_function`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(DotProductFloat.registration)
    ext.injectFunction(WordShingles.registration)
    ext.injectFunction(SimHashBits.registration)
    ext.injectFunction(LangId.registration)
    ext.injectFunction(StopHits.registration)
    ext.injectFunction(MinHashSigs.registration)
    ext.injectFunction(NfcNormalize.registration)
    ext.injectFunction(SignBucketKeys.registration)
    ext.injectFunction(BloomMightContain.registration)
    ext.injectFunction(MisraGries.registration)
    ext.injectFunction(TopKStrings.registration)
    ext.injectFunction(VecSumLong.registration)
    ext.injectFunction(WinnowFingerprints.registration)
    ext.injectFunction(BpeEncode.registration)
    ext.injectFunction(TextStatsExpr.registration)
    ext.injectFunction(Lev1Dist.registration)
    ext.injectFunction(DeletionVariants.registration)
    ext.injectFunction(CmsSketch.registration)
    ext.injectFunction(CmsEstimate.registration)
    ext.injectFunction(ArrayPairs.registration)
    ext.injectFunction(SortedIntersectCount.registration)
    ext.injectFunction(KmvMinima.registration)
    ext.injectFunction(RepetitionStats.registration)
    ext.injectFunction(QcFeatures.registration)
    ext.injectFunction(MarkupClean.registration)
    ext.injectFunction(SpanCut.registration)
  }
}

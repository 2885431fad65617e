package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Shingles

/** SimHash near-duplicate detection: a 64-bit locality-sensitive content
  * fingerprint per doc (computed locally, no shuffle). Pairing at a
  * Hamming radius is the pigeonhole band join (Hamming.pairs), the same
  * machinery that serves image-level near-dups over the `phash` column
  * (north_star: "SimHash over perceptual pHash bits").
  */
object SimHash {

  /** docs(k, text) -> (k, simhash: long). The fingerprint is the native
    * codegen expression GraftSimHash64 (same kernel), so the whole map
    * fuses into the scan's WholeStageCodegen span -- no Dataset object
    * round-trip. Null text yields no fingerprint (emitting a shared
    * constant would cluster every caption-less doc at Hamming distance
    * 0); the null-intolerant expression propagates the null and the
    * filter drops it.
    */
  def simhashes(docs: DataFrame, shingleLen: Int): DataFrame = {
    docs
      .select(col("k").cast("long"),
        graft.functions.GraftFunctions
          .simhash64(encode(col("text"), "UTF-8"), shingleLen).as("simhash"))
      .where(col("simhash").isNotNull)
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{PolyHash, Shingles}

/** MinHash signatures + LSH banding for near-duplicate candidate
  * generation (the stage the reference corpus had already been through
  * upstream -- README.md:17 `minhash/param_26_11` -- and which the
  * north_rule requires natively).
  *
  * Scale shape:
  *  - signatures are computed PER DOC in the one word-shingle pass
  *    (NgramJaccard.shingled: the shingle set of a row is local), so the
  *    only shuffle in the whole operator is the band-bucket self-join;
  *  - each doc emits exactly `bands` rows of (band, band_hash) -- 20 B/row
  *    regardless of numHashes -- so the join input is tiny relative to the
  *    corpus;
  *  - the band self-join is an equi-join on (band, band_hash): AQE
  *    skew-join splits viral buckets (empty-doc or boilerplate signatures),
  *    and `maxBucketSize` drops degenerate buckets entirely (a bucket with
  *    thousands of members is boilerplate, not near-duplication -- same
  *    rationale as NgramJaccard's stop-shingle cap).
  */
object MinHashLSH {

  /** Words per shingle: the unit is word n-grams
    * (`NgramJaccard.shingled`). A small shared character vocabulary makes
    * char n-grams near-universal, which floods LSH buckets with false
    * candidates; word n-grams keep bucket sizes honest.
    */
  val ShingleLen = 3

  case class Config(
      numHashes: Int = 128,
      bands: Int = 32,
      maxBucketSize: Long = 10000) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def rowsPerBand: Int = numHashes / bands
  }

  /** docs(k, text) -> (k, sig: array<long>) one row per doc, no shuffle.
    * Empty-shingle docs keep their all-sentinel signature row here (the
    * per-doc signature is total by contract); bandTable is where they are
    * dropped, before any self-join can see them.
    */
  def signatures(docs: DataFrame, cfg: Config): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val seeds = Shingles.seeds(cfg.numHashes)
    NgramJaccard.shingled(docs, ShingleLen)((k, sh) =>
      Iterator.single((k, Shingles.minhashSignature(sh, seeds))))
      .toDF("k", "sig")
  }

  /** (k, band, band_hash): one row per doc per band; band_hash folds the
    * band's signature rows with mix64 chaining. Docs whose shingle set is
    * EMPTY (null text, or text shorter than one shingle) emit NO band
    * rows: their signatures are identical all-sentinel vectors, so one
    * band bucket would collect every such doc and candidatePairs would
    * go quadratic on junk rows -- the same hazard SimHash.simhashes
    * avoids by dropping null rows. "No shingles" means "similar to
    * nothing", not "similar to every other empty doc".
    */
  def bandTable(docs: DataFrame, cfg: Config): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val seeds = Shingles.seeds(cfg.numHashes)
    val (bands, rows) = (cfg.bands, cfg.rowsPerBand)
    NgramJaccard.shingled(docs, ShingleLen) { (k, sh) =>
      if (sh.isEmpty) Iterator.empty
      else {
        val sig = Shingles.minhashSignature(sh, seeds)
        Iterator.range(0, bands).map { bi =>
          var h = 0x6a0917b1L + bi
          var r = 0
          while (r < rows) { h = PolyHash.mix64(h ^ sig(bi * rows + r)); r += 1 }
          (k, bi, h)
        }
      }
    }.toDF("k", "band", "band_hash")
  }

  /** Candidate pairs (a < b): docs sharing at least one band bucket.
    * The band table is pinned once (eager localCheckpoint): it feeds the
    * hot-bucket prune and both sides of the self-join, and the dominant
    * cost of recomputing it is the per-doc MinHash signature pass.
    */
  def candidatePairs(docs: DataFrame, cfg: Config): DataFrame = {
    val bt = bandTable(docs, cfg).localCheckpoint(true)
    val pruned =
      if (cfg.maxBucketSize == Long.MaxValue) bt
      else {
        val hot = bt.groupBy("band", "band_hash").agg(count(lit(1)).as("n"))
          .where(col("n") > cfg.maxBucketSize).select("band", "band_hash")
        bt.join(hot, Seq("band", "band_hash"), "left_anti")
      }
    pruned.select(col("band"), col("band_hash"), col("k").as("a"))
      .join(pruned.select(col("band"), col("band_hash"), col("k").as("b")),
        Seq("band", "band_hash"))
      .where(col("a") < col("b"))
      .select("a", "b")
      .distinct()
  }

  /** Candidates re-verified with EXACT shingle Jaccard >= threshold.
    * Output (a, b, jacc) -- the LSH-accelerated version of
    * NgramJaccard.wordPairs: same result set minus LSH false negatives
    * (recall is tuned by bands/rows; tests assert >= 0.99 on fixtures).
    *
    * `pruneVerify`: by default the shingle-set table feeds BOTH sides of
    * the verification join, so the per-doc shingle pass runs twice over
    * the whole corpus. With the prune, the candidate pairs are pinned
    * (small), the shingle pass runs ONCE over only the docs that appear
    * in a candidate pair (broadcast semi-join), and the pinned pruned
    * sets feed both join sides. Same trade-off as
    * SubstringDedup.Config.verifyPrune (which prunes the corpus side of
    * that verifier's one join and pins its hash-run members): pays when
    * candidates cover a small fraction of a large corpus (DedupPipeline
    * passes true), costs a few extra scheduled jobs at small fixture
    * scale (default off so the d7 oracle query keeps its lazy single-job
    * shape).
    */
  def verifiedPairs(docs: DataFrame, cfg: Config, threshold: Double,
                    pruneVerify: Boolean = false): DataFrame = {
    if (!pruneVerify)
      NgramJaccard.verifyWithSets(
        candidatePairs(docs, cfg), NgramJaccard.shingleSets(docs, ShingleLen), threshold)
    else {
      val cand = candidatePairs(docs, cfg).localCheckpoint(true)
      val keys = cand.select(col("a").as("ck"))
        .unionAll(cand.select(col("b").as("ck")))
        .distinct()
      val sets = NgramJaccard.shingleSets(
        docs.join(broadcast(keys), col("k") === col("ck"), "leftsemi"), ShingleLen)
        .localCheckpoint(true)
      NgramJaccard.verifyWithSets(cand, sets, threshold)
    }
  }
}

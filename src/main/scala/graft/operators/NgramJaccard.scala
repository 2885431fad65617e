package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import graft.functions.Shingles

/** Exact word n-gram Jaccard near-duplicate pairs with AllPairs/ppjoin-style
  * PREFIX FILTERING (Bayardo et al. WWW'07; Xiao et al. WWW'08) -- exact,
  * no approximation, and no quadratic inverted-index blowup:
  *
  * Order every doc's shingles by ascending global document frequency
  * (rarest first, ties by shingle value). For Jaccard >= t, two docs MUST
  * share a shingle within each one's first (|d| - ceil(t*|d|) + 1)
  * shingles in that canonical order -- so only those PREFIX shingles are
  * indexed for the candidate self-join. Prefix shingles are by
  * construction the rarest, so the per-key join fan-out stays tiny even on
  * corpora where the average shingle appears in hundreds of documents
  * (which is exactly what makes a naive inverted-index join quadratic).
  * Candidates are then verified with the true intersection over the FULL
  * shingle sets.
  *
  * This is the exact counterpart to MinHash/LSH, over the same shingle
  * unit: `shingled` is the one place a doc's text becomes its distinct
  * word n-gram hashes, and MinHashLSH's signatures and bands, the shingle
  * sets and the prefix table are all that pass with their own tail.
  */
object NgramJaccard {

  /** The one per-doc shingle pass: docs(k, text) -> `tail(k, sset)`, where
    * sset is the doc's sorted distinct word n-gram hashes
    * (`Shingles.wordNgramHashes`; null text and docs shorter than n words
    * give the empty set). Each caller's frame crosses this single typed
    * boundary and nothing else.
    */
  def shingled[T: Encoder](docs: DataFrame, n: Int)(
      tail: (Long, Array[Long]) => Iterator[T]): Dataset[T] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("k").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (k, t) => tail(k, Shingles.wordNgramHashes(t, n)) })
  }

  /** docs(k, text) -> (k, sset) per-doc shingle-set arrays, map-side. */
  def shingleSets(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    shingled(docs, n)((k, s) => Iterator.single((k, s))).toDF("k", "sset")
  }

  /** Prefix table: each doc's (|d| - ceil(t*|d|) + 1) globally-rarest
    * shingles -- the only ones that need indexing for threshold t.
    */
  private def prefixTable(sh: DataFrame, threshold: Double): DataFrame = {
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("df"), col("sh"))
    sh.join(dfreq, "sh")
      .withColumn("rnk", row_number().over(byRarity))
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("k")))
      // epsilon guards the exact-integer case: ceil(240.0000000003) would
      // otherwise shrink the prefix below the safe bound and lose recall.
      .where(col("rnk") <= col("sz") - ceil(col("sz") * threshold - 1e-9) + 1)
      .select("k", "sh")
  }

  /** Exact Jaccard >= threshold pairs (a < b) over word n-gram shingles:
    * prefix-filtered candidates verified against the per-doc shingle sets.
    * Output: (a, b, jacc).
    *
    * Word shingles, not char n-grams: char n-grams over a small vocabulary
    * are near-universal (every doc contains most of them), which defeats
    * any inverted-index / prefix-filter join; word n-grams keep document
    * frequency low.
    */
  def wordPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // NOT pinned (measured round 6): an eager localCheckpoint of the
    // shingle table cost more than the map-side shingling passes it
    // saved (driver query 1.69 -> 2.03 s), and at corpus scale the
    // shingle table is corpus-sized -- rematerializing a cheap narrow
    // map beats block-storing it, locally and at 100 TB
    val sh = shingled(docs, n)((k, s) => s.iterator.map(x => (k, x))).toDF("k", "sh")
    val prefix = prefixTable(sh, threshold)

    val cand = prefix.select(col("k").as("a"), col("sh"))
      .join(prefix.select(col("k").as("b"), col("sh")), Seq("sh"))
      .where(col("a") < col("b"))
      .select("a", "b")
      .distinct()

    verifyWithSets(cand, shingleSets(docs, n), threshold)
  }

  /** Exact-intersection verification of candidate pairs against per-doc
    * shingle-set ARRAYS (k, sset): two equi-joins + a codegen'd
    * array_intersect; the set arrays are bounded by doc size so they stay
    * small at any corpus scale. Shared with MinHashLSH.verifiedPairs.
    */
  def verifyWithSets(cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    cand
      .join(sets.select(col("k").as("a"), col("sset").as("sa")), "a")
      .join(sets.select(col("k").as("b"), col("sset").as("sb")), "b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      // two EMPTY shingle sets (e.g. null/short captions) have an
      // undefined Jaccard: union size 0 -> NULL (drops at the threshold
      // filter), not a divide-by-zero. A when() guard, not a row filter:
      // Catalyst may reorder a filter past the projection, but when()
      // evaluates its branch conditionally by contract.
      .withColumn("union_sz", size(col("sa")) + size(col("sb")) - col("inter"))
      .withColumn("jacc", when(col("union_sz") > 0,
        col("inter").cast("double") / col("union_sz")))
      .where(col("jacc") >= threshold)
      .select(col("a"), col("b"), round(col("jacc"), 6).as("jacc"))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PolyHash

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language-ID heuristic, fingerprinting, unigram counts.
  * All pure `functions._` column expressions (whole-stage codegen, no
  * UDFs) so they fuse into the scan and survive a 100x scale-up as a
  * single map stage.
  */
object TextStats {

  /** The document column every operator here reads. */
  private val Text = col("text")

  /** Whitespace tokens with empties dropped (robust to repeated spaces). */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Regex word tokens (BPE-ish pre-tokenization: runs of letters/digits). */
  def regexTokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** (k, token, cnt): unigram counts over the corpus (reference unigram
    * sidecar, indexing_v6_sharded.py:103-106).
    */
  def unigramCounts(docs: DataFrame): DataFrame =
    docs
      .select(explode(tokens(Text)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))

  /** Per-doc stats: token count, distinct tokens, mean token length,
    * stopword ratio, alpha ratio. Deterministic, SQL-portable.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is")

  def docStats(docs: DataFrame): DataFrame = {
    val toks = tokens(Text)
    val nTok = size(toks)
    val stopList = array(Stopwords.map(lit): _*)
    docs.select(
      col("k").cast("long"),
      nTok.cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      round(length(regexp_replace(Text, " ", "")).cast("double") /
        greatest(nTok, lit(1)), 6).as("mean_tok_len"),
      round(size(filter(toks, t => array_contains(stopList, t))).cast("double") /
        greatest(nTok, lit(1)), 6).as("stopword_ratio"))
  }

  /** Composite quality score in [0,1]: favors mid-length docs with healthy
    * type-token and stopword ratios (the usual pretraining heuristics).
    */
  def qualityScore(docs: DataFrame): DataFrame =
    docStats(docs).withColumn("quality",
      round(
        least(col("n_tokens").cast("double") / 64.0, lit(1.0)) * 0.4 +
        (col("n_distinct").cast("double") / greatest(col("n_tokens"), lit(1))) * 0.4 +
        least(col("stopword_ratio") * 4.0, lit(1.0)) * 0.2, 6))

  /** Language-ID by per-language stopword dictionaries: score = token hits,
    * prediction = argmax (ties broken by fixed language order). N-gram
    * profile models live in tests; this dictionary form is the
    * SQL-portable core of the same idea.
    */
  val LangDicts: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une"))

  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens(lower(Text))
    val scored = LangDicts.foldLeft(docs.select(col("k").cast("long"), Text)) {
      case (df, (lang, words)) =>
        val dict = array(words.map(lit): _*)
        df.withColumn(s"score_$lang",
          size(filter(toks, t => array_contains(dict, t))).cast("long"))
    }
    // argmax with deterministic tie-break: first language in LangDicts order
    // with the maximal score; all-zero -> "und".
    val maxScore = greatest(LangDicts.map { case (l, _) => col(s"score_$l") }: _*)
    val pred = LangDicts.reverse.foldLeft(lit("und")) { case (acc, (lang, _)) =>
      when(col(s"score_$lang") === maxScore && maxScore > 0, lang).otherwise(acc)
    }
    scored.withColumn("pred_lang", pred)
      .select(Seq(col("k"), col("pred_lang")) ++
        LangDicts.map { case (l, _) => col(s"score_$l") }: _*)
  }

  /** Lexicographically minimal character n-gram -- a deterministic,
    * SQL-portable document fingerprint (the degenerate w=all case of
    * winnowing; the hash-based sliding-window variant is
    * `winnowFingerprints`).
    */
  def minShingleFingerprint(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("k").cast("long"),
      when(length(Text) < n, Text).otherwise(
        array_min(transform(
          sequence(lit(1), length(Text) - (n - 1)),
          i => Text.substr(i, lit(n))))
      ).as("fp"))

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03 -- the MOSS
    * algorithm): rolling polynomial hash of every char n-gram (PolyHash,
    * O(1)/byte), then each sliding window of w consecutive hashes
    * contributes its minimum; the doc's fingerprint is the DISTINCT set of
    * selected hashes -- at least one fingerprint per w positions, so two
    * docs sharing any run of >= n+w-1 chars share a fingerprint.
    * Trailing windows shorten naturally (frame [i, min(i+w-1, last)]),
    * matching the SQL frame `ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING`.
    * Per-doc mapPartitions: zero shuffle, O(len) total via a monotone
    * deque of candidate minima (each hash enters and leaves the deque at
    * most once) instead of rescanning each w-window.
    */
  def winnowFingerprints(docs: DataFrame, n: Int, w: Int): DataFrame = {
    require(w >= 1, "window w must be >= 1")
    // the deque selection runs inside the native GraftWinnow expression
    // (functions/Native.scala): one codegen'd kernel call per doc fused
    // into the scan, then a generate -- no Dataset object round-trip.
    // explode() of the null-text row's null array emits nothing, matching
    // the old null-handling.
    docs.select(col("k").cast("long"),
        explode(graft.functions.GraftFunctions
          .winnow(encode(Text, "UTF-8"), n, w)).as("fp"))
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.StableIds
import graft.operators._
import graft.plans.Stage

/** End-to-end near-duplicate detection + clustering over the `images`
  * table (image_id, bytes, w, h, fmt, caption, phash) -- the north_star
  * pipeline:
  *
  *   1. stable ids      image_id -> dense long k (deterministic order)
  *   2. exact dups      sha2(bytes||caption) first-occurrence groups
  *   3. substring dedup caption remove_ranges (annotate mode)
  *   4. MinHash + LSH   caption shingles -> band join -> exact-Jaccard
  *                      verified near-dup edges
  *   5. pHash Hamming   pigeonhole band join on the 64 phash bits
  *   6. union edges -> connected components (large-star/small-star)
  *                   -> clusters(image_id, cluster_id), cluster_id = the
  *                      lexicographically smallest member (first
  *                      occurrence keep at cluster level)
  *
  * Every stage is snapshot-checkpointed with metrics (Stage); passing
  * stageDir=None runs it unmaterialized (pure lazy plan) for benchmarks.
  * A stage's name carries every Config field that shapes its output, so
  * a rerun on the same stageDir at another config computes its own
  * snapshots; that the images are the same stays the caller's contract.
  */
object DedupPipeline {

  /** Defaults: word-3-gram MinHash (see MinHashLSH.Config), Jaccard 0.6
    * verification, Hamming radius 4 on the 64 phash bits, substring
    * minLen 32 bytes.
    */
  case class Config(
      minLen: Int = 32,
      minhash: MinHashLSH.Config = MinHashLSH.Config(),
      jaccThreshold: Double = 0.6,
      hammingRadius: Int = 4)

  /** Null-safe caption for content-digest purposes: a NULL caption would
    * null the whole concat, and ExactDedup.flag groups NULL content as one
    * value -- every distinct image with a null caption would collapse into
    * one group. The sentinel starts with a NUL byte, which no real caption
    * string contains, so it can never collide with a literal caption
    * value. The hex bytes digest passes through it the same way.
    */
  def nullSafeCaption(caption: Column): Column =
    coalesce(caption, lit("\u0000<null>"))

  case class Result(
      keyed: DataFrame,        // images + k
      exactEdges: DataFrame,   // (a, b) exact content dups
      nearEdges: DataFrame,    // (a, b, jacc) caption near-dups
      phashEdges: DataFrame,   // (a, b, dist) image near-dups
      annotated: DataFrame,    // images + sa_remove_ranges on captions
      clusters: DataFrame)     // (image_id, cluster_id)

  def run(spark: SparkSession, images: DataFrame, cfg: Config,
          stageDir: Option[String] = None): Result = {
    val stage = stageDir.map(new Stage(spark, _))
    def checkpointed(name: String)(df: => DataFrame): DataFrame =
      stage.map(_.run(name)(df)).getOrElse(df)
    val nearCfg = s"h${cfg.minhash.numHashes}_b${cfg.minhash.bands}" +
      s"_x${cfg.minhash.maxBucketSize}_j${cfg.jaccThreshold}"
    val phashCfg = s"r${cfg.hammingRadius}"

    // Pin only the narrow (image_id -> k) id MAP: range bounds are sampled
    // per execution, so the assignment must be materialized once (see
    // StableIds); the payload join is left lazy and recomputed per branch
    // so parquet column pruning reaches every consumer's scan (annotate
    // reads captions only, phash reads hashes only, exact reads bytes).
    // At 10^12 rows a full-payload checkpoint would be the bottleneck --
    // the two-column map is the only thing worth snapshotting.
    val idMap = checkpointed("id_map")(StableIds.idMap(images, "image_id", "k"))
    // Explicit broadcast: the map is RDD-backed (numbered over a pinned sort),
    // so Catalyst sees no size statistics and would fall back to a
    // sort-merge join that shuffles the full payload at every consumer.
    // At 10^12 rows the map is snapshot to a table instead (stageDir path)
    // and AQE picks the join strategy from real stats.
    val keyed = images.join(
      if (stage.isDefined) idMap else broadcast(idMap), Seq("image_id"))

    // 2. exact duplicates over full content (bytes + caption)
    val exactEdges = checkpointed("exact_edges") {
      ExactDedup.flag(
        keyed.withColumn("content",
          concat(nullSafeCaption(sha2(col("bytes"), 256)),
            nullSafeCaption(col("caption")))),
        "content")
        .where(col("is_dup"))
        .select(col("keeper").as("a"), col("k").as("b"))
    }

    // 3. substring dedup on captions, annotate mode
    val annotated = checkpointed(s"annotated_m${cfg.minLen}") {
      SubstringDedup.annotate(
        keyed.select(col("k"), col("caption").as("text")),
        SubstringDedup.Config(cfg.minLen))
        .withColumnRenamed("text", "caption")
    }

    // 4. caption near-dups: LSH candidates + exact-Jaccard verification.
    // pruneVerify: candidates cover a small fraction of the corpus, so
    // the exact-Jaccard shingle pass runs once over candidate docs only
    // instead of twice over every caption (MinHashLSH.verifiedPairs).
    val nearEdges = checkpointed(s"near_edges_$nearCfg") {
      MinHashLSH.verifiedPairs(
        keyed.select(col("k"), col("caption").as("text")),
        cfg.minhash, cfg.jaccThreshold, pruneVerify = true)
    }

    // 5. image-level near-dups on perceptual hash bits. The corpus row
    // count is already known from the pinned id map (one cheap count of
    // the narrow checkpoint), so Hamming.pairs skips its own counting
    // probe pass when steering the flat-vs-two-level plan choice.
    val phashEdges = checkpointed(s"phash_edges_$phashCfg") {
      Hamming.pairs(keyed.select(col("k").as("id"), col("phash").as("bits")),
        cfg.hammingRadius, nHint = idMap.count())
    }

    // 6. union -> connected components -> clusters keyed back to image_id
    val clusters = checkpointed(s"clusters_${nearCfg}_$phashCfg") {
      val edges = exactEdges.select("a", "b")
        .unionAll(nearEdges.select("a", "b"))
        .unionAll(phashEdges.select("a", "b"))
      // the vertex set and the id<->image_id translation only need the
      // narrow pinned id map -- never the payload
      val assigned = ConnectedComponents.assign(
        idMap.select(col("k").as("id")), edges)
      assigned
        .join(idMap.select(col("k").as("id"), col("image_id")), "id")
        .join(idMap.select(col("k").as("comp"), col("image_id").as("cluster_id")), "comp")
        .select("image_id", "cluster_id")
    }

    Result(keyed, exactEdges, nearEdges, phashEdges, annotated, clusters)
  }
}

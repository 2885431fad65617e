package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{DedupPipeline, JsonlDedupJob}
import graft.functions.{StableIds, Utf8}
import graft.operators._
import graft.sources.Writeback

/** Spans and counts of one traced pass. Each span runs under its own Spark
  * job group, named after the span, so the listener can attribute tasks.
  * Span names are `<layer>.<step>`; `probe.*` spans measure extra work
  * (counts the untraced workflow never computes) and are kept out of the
  * traced end-to-end time and the layer counters.
  */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer.empty[(String, Double)]
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += ((name, (System.nanoTime() - t0) / 1e9))
      sc.clearJobGroup()
    }
  }

  def count(name: String, v: Double): Unit = counts(name) = v
}

/** One named workload: seeded input generation, the workflow pass, its
  * traced decomposition and the output checks.
  */
trait Workload {
  type Input
  type Output
  def name: String
  /** Writes the inputs under `dir` (which does not exist yet). */
  def generate(spark: SparkSession, seed: Long, dir: Path): Input
  def corpusBytes(in: Input): Long
  /** SHA-256 identifying the generated input. */
  def digest(in: Input): String
  /** `digest` of the same seed's inputs generated again into `dir`. */
  def regenerate(spark: SparkSession, seed: Long, dir: Path): String =
    digest(generate(spark, seed, dir))
  /** Typical wall time of one pass; the window runs `--seconds` / passS
    * passes, so each workload's window lasts about `--seconds`.
    */
  def passS: Double
  /** The workflow as a user runs it, materialized. */
  def run(spark: SparkSession, in: Input, out: Path): Output
  /** The same workflow, one span per layer call. */
  def traced(spark: SparkSession, in: Input, out: Path, tr: Tracer): Output
  /** Work counts that need their own jobs; run once, after the passes. */
  def probes(spark: SparkSession, in: Input, tr: Tracer): Unit
  /** Failed checks, empty when the output is correct. */
  def check(in: Input, res: Output, out: Path): Seq[String]
}

object Workloads {
  val all: Seq[Workload] = Seq(
    new JsonlWorkload("jsonl_sparse_annotate", "annotate", "gzip"),
    ImagesWorkload,
    new JsonlWorkload("jsonl_dense_remove", "remove", "none"))

  def byName(n: String): Workload = all.find(_.name == n)
    .getOrElse(throw new IllegalArgumentException(s"unknown workload $n"))
}

/** JSONL tree in, substring dedup at minLen 500, mirrored JSONL tree out
  * (`JsonlDedupJob.run`, bytes unit).
  */
final class JsonlWorkload(val name: String, mode: String, compression: String) extends Workload {
  private val sparse = mode == "annotate"
  private val minLen = 500
  private val nDocs = if (sparse) 1920 else 180
  private val nFiles = 8
  val passS = if (sparse) 5.5 else 6.0

  final case class In(dir: Path, corpus: Gen.Corpus, bytes: IndexedSeq[Array[Byte]],
                      expected: IndexedSeq[Array[(Int, Int)]])
  type Input = In
  type Output = Array[(String, Long)]

  def generate(spark: SparkSession, seed: Long, dir: Path): In = {
    val (corpus, expected) =
      if (sparse) {
        val (c, planted) = Gen.sparse(seed, nDocs, nFiles)
        (c, planted.map(_.toArray))
      } else {
        val c = Gen.dense(seed, nDocs, nFiles)
        (c, Oracle.removeRanges(c.texts.map(_.getBytes(UTF_8)), minLen))
      }
    Gen.writeJsonl(corpus, dir)
    In(dir, corpus, corpus.texts.map(_.getBytes(UTF_8)), expected)
  }

  def corpusBytes(in: In): Long = in.bytes.iterator.map(_.length.toLong).sum

  def digest(in: In): String = Gen.digest(in.dir)

  def run(spark: SparkSession, in: In, out: Path): Output =
    JsonlDedupJob.run(spark, in.dir.toString, out.toString, minLen = minLen,
      mode = mode, compression = compression)
      .written.collect().map(r => (r.getString(0), r.getLong(1)))

  def traced(spark: SparkSession, in: In, out: Path, tr: Tracer): Output = {
    // each layer's output is pinned (localCheckpoint) at its boundary, so
    // the next span reads it instead of recomputing it
    val keyed = tr.span("sources.ingest") {
      JsonlDedupJob.readTree(spark, in.dir.toString)
        .withColumn("path", regexp_replace(col("path"), "\\.(gz|zst)$", ""))
        .localCheckpoint(eager = true)
    }
    val ranges = tr.span("substring.self") {
      SubstringDedup.removeRanges(keyed, SubstringDedup.Config(minLen, verifyPrune = true))
        .localCheckpoint(eager = true)
    }
    val annotated = tr.span("substring.annotate") {
      val a = SubstringDedup.annotateWith(keyed, ranges)
      val out = if (sparse) a else a
        .withColumn("text", Utf8.removeMode(encode(col("text"), "UTF-8"), col("sa_remove_ranges")))
        .drop("sa_remove_ranges")
      out.localCheckpoint(eager = true)
    }
    val written = tr.span("sources.writeback") {
      Writeback.jsonlTree(annotated.drop("k"), out.toString, compression = compression)
        .collect().map(r => (r.getString(0), r.getLong(1)))
    }
    tr.span("probe.counts")(tr.count("sources.writeback_out_mb", Util.treeBytes(out) / 1e6))
    written
  }

  def probes(spark: SparkSession, in: In, tr: Tracer): Unit = {
    val keyed = JsonlDedupJob.readTree(spark, in.dir.toString).localCheckpoint(eager = true)
    val nWin = tr.span("probe.substring.windows")(SubstringDedup.windows(keyed, minLen).count())
    val dup = SubstringDedup.dupPtrs(keyed, SubstringDedup.Config(minLen, verifyPrune = true))
      .where(col("dropped")).count()
    tr.count("substring.windows", nWin.toDouble)
    tr.count("substring.dup_window_frac", dup.toDouble / math.max(1L, nWin))
  }

  def check(in: In, written: Output, out: Path): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    val c = in.corpus
    val outName = (f: String) => if (compression == "gzip") f else f.stripSuffix(".gz")
    val want = c.files.map { case (f, docs) => outName(f) -> docs }.toMap
    val got = Util.listTree(out)
    if (got.sorted != want.keys.toSeq.sorted)
      errs += s"output files ${got.sorted.mkString(",")} do not mirror the input tree"
    val rowsOf = written.toMap
    var docsBad = 0
    want.toSeq.sortBy(_._1).filter(f => got.contains(f._1)).foreach { case (f, docs) =>
      val lines = Util.readLines(out.resolve(f))
      lines match {
        case Left(err) => errs += s"$f: $err"
        case Right(ls) =>
          val rowsWritten = rowsOf.get(f.stripSuffix(".gz"))
          if (rowsWritten.exists(_ != docs.size))
            errs += s"$f: writer reported ${rowsWritten.get} rows, want ${docs.size}"
          if (ls.size != docs.size) errs += s"$f: ${ls.size} lines, want ${docs.size}"
          ls.zip(docs).foreach { case (line, i) =>
            val js = Util.json.readTree(line)
            val bad =
              if (js.path("docid").asText() != c.docId(i)) true // line order
              else if (sparse) {
                val rs = js.path("sa_remove_ranges")
                val ranges = (0 until rs.size)
                  .map(j => (rs.get(j).path("s").asLong(), rs.get(j).path("e").asLong()))
                js.path("text").asText() != c.texts(i) ||
                  ranges != in.expected(i).toSeq.map { case (s, e) => (s.toLong, e.toLong) }
              } else {
                val text = js.path("text").asText().getBytes(UTF_8)
                val removed = in.expected(i).iterator.map { case (s, e) => e - s }.sum
                text.length != in.bytes(i).length - removed ||
                  !java.util.Arrays.equals(text, Oracle.cut(in.bytes(i), in.expected(i)))
              }
            if (bad) docsBad += 1
          }
      }
    }
    if (docsBad > 0) errs += s"$docsBad docs differ from the expected output"
    errs.toSeq
  }
}

/** `DedupPipeline.run` at its default config over a parquet images table. */
object ImagesWorkload extends Workload {
  val name = "images_pipeline"
  private val cfg = DedupPipeline.Config()
  private val minLen = cfg.minLen
  private val nBase = 1000
  private val nFiles = 8
  val passS = 5.0

  final case class In(dir: Path, images: Gen.Images, bytes: Long) {
    /** Captions in ascending image_id order, i.e. by StableIds' k. */
    lazy val captions: IndexedSeq[String] = images.rows.map(_.caption)
      .zip(images.rows.map(_.image_id)).sortBy(_._2).map(_._1)
    /** Remove ranges of every caption by k, from `Oracle`. */
    lazy val expected: IndexedSeq[Seq[(Long, Long)]] =
      Oracle.removeRanges(captions.map(_.getBytes(UTF_8)), minLen)
        .map(_.toSeq.collect { case (s, e) if e > s => (s.toLong, e.toLong) })
  }
  type Input = In
  /** (image_id, cluster_id) rows and (k, caption, remove ranges) rows. */
  type Output = (Array[(String, String)], Array[(Long, String, Seq[(Long, Long)])])

  def generate(spark: SparkSession, seed: Long, dir: Path): In = {
    val im = Gen.images(seed, nBase)
    Gen.writeImages(spark, im, dir, nFiles)
    In(dir, im, im.rows.iterator.map(r => r.bytes.length.toLong + r.caption.getBytes(UTF_8).length).sum)
  }

  def corpusBytes(in: In): Long = in.bytes

  /** Over the rows, not the files: parquet footers list column encodings
    * in an order that varies between JVMs, so the same rows do not give
    * byte-identical files.
    */
  def digest(in: In): String = Gen.rowsDigest(in.images.rows)

  override def regenerate(spark: SparkSession, seed: Long, dir: Path): String =
    Gen.rowsDigest(Gen.images(seed, nBase).rows)

  private def collectOutputs(clusters: DataFrame, annotated: DataFrame): Output = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // the two branches are independent plans; submit them concurrently,
    // as the repository's own pipeline benchmark does
    val fc = Future(clusters.select("image_id", "cluster_id").collect()
      .map(r => (r.getString(0), r.getString(1))))
    val fa = Future(annotated.select("k", "caption", "sa_remove_ranges").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getSeq[org.apache.spark.sql.Row](2).map(x => (x.getLong(0), x.getLong(1))))))
    (Await.result(fc, Duration.Inf), Await.result(fa, Duration.Inf))
  }

  def run(spark: SparkSession, in: In, out: Path): Output = {
    val res = DedupPipeline.run(spark, spark.read.parquet(in.dir.toString), cfg)
    collectOutputs(res.clusters, res.annotated)
  }

  def traced(spark: SparkSession, in: In, out: Path, tr: Tracer): Output = {
    val images = spark.read.parquet(in.dir.toString)
    // each layer's output is pinned (localCheckpoint) at its boundary, so
    // the next span reads it instead of recomputing it
    val idMap = tr.span("ids.self") {
      StableIds.idMap(images, "image_id", "k").localCheckpoint(eager = true)
    }
    val keyed = images.join(broadcast(idMap), Seq("image_id"))
    val captions = keyed.select(col("k"), col("caption").as("text"))
    val exactEdges = tr.span("exact.self") {
      ExactDedup.flag(
        keyed.withColumn("content",
          concat(sha2(col("bytes"), 256), DedupPipeline.nullSafeCaption(col("caption")))),
        "content")
        .where(col("is_dup"))
        .select(col("keeper").as("a"), col("k").as("b")).localCheckpoint(eager = true)
    }
    val ranges = tr.span("substring.self") {
      SubstringDedup.removeRanges(captions, SubstringDedup.Config(cfg.minLen))
        .localCheckpoint(eager = true)
    }
    val annotated = tr.span("substring.annotate") {
      SubstringDedup.annotateWith(captions, ranges).withColumnRenamed("text", "caption")
        .localCheckpoint(eager = true)
    }
    val nearEdges = tr.span("lsh.self") {
      MinHashLSH.verifiedPairs(captions, cfg.minhash, cfg.jaccThreshold, pruneVerify = true)
        .localCheckpoint(eager = true)
    }
    val phashEdges = tr.span("hamming.self") {
      Hamming.pairs(keyed.select(col("k").as("id"), col("phash").as("bits")),
        cfg.hammingRadius, nHint = idMap.count()).localCheckpoint(eager = true)
    }
    val edges = exactEdges.select("a", "b")
      .unionAll(nearEdges.select("a", "b"))
      .unionAll(phashEdges.select("a", "b"))
    val clusters = tr.span("cc.self") {
      ConnectedComponents.assign(idMap.select(col("k").as("id")), edges)
        .join(idMap.select(col("k").as("id"), col("image_id")), "id")
        .join(idMap.select(col("k").as("comp"), col("image_id").as("cluster_id")), "comp")
        .select("image_id", "cluster_id").localCheckpoint(eager = true)
    }
    val res = collectOutputs(clusters, annotated)
    tr.span("probe.counts") {
      val nEdges = edges.count()
      tr.count("cc.edges", nEdges.toDouble)
      tr.count("cc.local", if (nEdges <= ConnectedComponents.SmallGraphEdges) 1.0 else 0.0)
      tr.count("lsh.verified", nearEdges.count().toDouble)
      tr.count("hamming.pairs", phashEdges.count().toDouble)
    }
    res
  }

  def probes(spark: SparkSession, in: In, tr: Tracer): Unit = {
    val images = spark.read.parquet(in.dir.toString)
    val idMap = StableIds.idMap(images, "image_id", "k").localCheckpoint(eager = true)
    val captions = images.join(broadcast(idMap), Seq("image_id"))
      .select(col("k"), col("caption").as("text")).localCheckpoint(eager = true)
    val nWin = tr.span("probe.substring.windows")(SubstringDedup.windows(captions, minLen).count())
    val dup = SubstringDedup.dupPtrs(captions, SubstringDedup.Config(minLen))
      .where(col("dropped")).count()
    tr.count("substring.windows", nWin.toDouble)
    tr.count("substring.dup_window_frac", dup.toDouble / math.max(1L, nWin))
    val cand = MinHashLSH.candidatePairs(captions, cfg.minhash).count()
    tr.count("lsh.candidates", cand.toDouble)
  }

  def check(in: In, res: Output, out: Path): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    val (clusters, annotated) = res
    val ids = in.images.rows.map(_.image_id)
    val cluster = clusters.toMap
    if (clusters.length != ids.size || cluster.size != ids.size || !ids.forall(cluster.contains))
      errs += s"clusters: ${clusters.length} rows / ${cluster.size} ids, want each of ${ids.size} ids once"
    // StableIds contract: k is the rank of image_id in ascending order
    val kOf = ids.sorted.zipWithIndex.toMap
    val byK = annotated.map { case (k, cap, rs) => k -> (cap, rs) }.toMap
    if (annotated.length != ids.size || byK.size != ids.size || !ids.indices.forall(k => byK.contains(k)))
      errs += s"annotated: ${annotated.length} rows / ${byK.size} keys, want k = 0..${ids.size - 1} once"
    val captionBad = in.captions.indices.count(k => byK.get(k).exists(_._1 != in.captions(k)))
    if (captionBad > 0) errs += s"$captionBad annotated captions differ from the input caption of their k"
    val rangesBad = in.expected.indices.count(k =>
      byK.get(k).exists(_._2.filter { case (s, e) => e > s } != in.expected(k)))
    if (rangesBad > 0) errs += s"$rangesBad captions' remove ranges differ from the oracle's"
    val uncovered = in.images.substr.count { case (id, s, e) =>
      !byK.get(kOf(id).toLong).exists(_._2.exists { case (rs, re) => rs <= s && re >= e }) }
    if (uncovered > 0) errs += s"$uncovered substring plants are not covered by one remove range"
    val split = in.images.mustCluster.count { case (a, b) =>
      cluster.get(a).isEmpty || cluster.get(a) != cluster.get(b) }
    if (split > 0) errs += s"$split of ${in.images.mustCluster.size} golden edges split across clusters"
    val merged = in.images.mustNot.count { case (a, b) =>
      cluster.get(a).isDefined && cluster.get(a) == cluster.get(b) }
    if (merged > 0) errs += s"$merged of ${in.images.mustNot.size} must-not pairs share a cluster"
    errs.toSeq
  }
}

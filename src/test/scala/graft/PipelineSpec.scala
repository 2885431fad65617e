package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.AnnCosine
import graft.sources.ImagesGen

/** End-to-end pipeline on the synthetic images fixture: cluster recall on
  * planted duplicate edges, per-row fidelity, the fixture's stored phash.
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val (rows, goldenEdges, negEdges) = ImagesGen.generate(60)
  private lazy val images = ImagesGen.toDf(spark, rows).cache()

  test("pipeline clusters: recall >= 0.99 on planted edges, negatives stay apart") {
    val res = DedupPipeline.run(spark, images, DedupPipeline.Config())
    val clusters = res.clusters.as[(String, String)].collect().toMap
    assert(goldenEdges.nonEmpty)
    val hit = goldenEdges.count { case (a, b) => clusters(a) == clusters(b) }
    val recall = hit.toDouble / goldenEdges.size
    assert(recall >= 0.99, s"recall=$recall (${goldenEdges.size} golden edges)")
    // precision probe: below-threshold near-miss pairs (word Jaccard ~0.43
    // < 0.6, unrelated pixels) must NOT share a cluster
    assert(negEdges.nonEmpty)
    val falseMerges = negEdges.filter { case (a, b) => clusters(a) == clusters(b) }
    assert(falseMerges.isEmpty, s"negatives clustered: $falseMerges")
    // cluster_id is a member of its own cluster (min-member labeling)
    val ids = clusters.keySet
    assert(clusters.values.forall(ids.contains))
    assert(clusters.forall { case (id, cid) => cid <= id })
  }

  test("per-row fidelity: bytes and captions pass through unmodified") {
    val res = DedupPipeline.run(spark, images, DedupPipeline.Config())
    val orig = images.select($"image_id", $"caption".as("caption0"), sha2($"bytes", 256).as("d"))
    val out = res.annotated
      .join(res.keyed.select($"k", $"image_id", sha2($"bytes", 256).as("d2")), "k")
    val joined = out.join(orig, Seq("image_id"))
    assert(joined.where($"caption" =!= $"caption0").count() == 0)
    assert(joined.where($"d" =!= $"d2").count() == 0)
    assert(res.annotated.count() == images.count())
  }

  test("substring dups planted in captions produce remove ranges") {
    val res = DedupPipeline.run(spark, images, DedupPipeline.Config())
    assert(res.annotated.where(size($"sa_remove_ranges") > 0).count() > 0)
  }

  test("staged pipeline: unstaged output, resumed rerun, a changed config computes its own") {
    def out(res: DedupPipeline.Result) = (
      res.clusters.as[(String, String)].collect().toSet,
      res.annotated.select($"k", $"sa_remove_ranges").as[(Long, Seq[(Long, Long)])].collect().toMap)
    val dir = java.nio.file.Files.createTempDirectory("graft_pipeline_stage").toString
    def metricParts = new java.io.File(dir, "_metrics").listFiles().count(_.getName.startsWith("part-"))
    val base = DedupPipeline.Config()
    val changed = base.copy(minLen = 16, jaccThreshold = 0.3)
    val unstaged = out(DedupPipeline.run(spark, images, base))
    val unstagedChanged = out(DedupPipeline.run(spark, images, changed))
    // the changed config shapes both the clusters and the annotations here
    assert(unstagedChanged._1 != unstaged._1, "clusters")
    assert(unstagedChanged._2 != unstaged._2, "annotations")
    assert(out(DedupPipeline.run(spark, images, base, Some(dir))) == unstaged)
    val computed = metricParts
    assert(computed > 0)
    assert(out(DedupPipeline.run(spark, images, base, Some(dir))) == unstaged)
    assert(metricParts == computed, "a rerun on the same stageDir computes nothing")
    assert(out(DedupPipeline.run(spark, images, changed, Some(dir))) == unstagedChanged)
  }

  test("real decode: png phash identical, jpg phash hamming-close") {
    // the stored phash is what the Hamming stage and the pipeline tests
    // rely on: recomputing it from the decoded pixels must give the same
    // bits for lossless png and a near hash for lossy jpg
    val drifts = rows.map { r =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.bytes))
      assert(img != null, s"${r.image_id} (${r.fmt}) did not decode")
      val (w, h) = (img.getWidth, img.getHeight)
      val px = img.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xffffff)
      (r.fmt, java.lang.Long.bitCount(r.phash ^ ImagesGen.aHash(px, w, h)))
    }
    assert(drifts.exists(_._1 == "png") && drifts.exists(_._1 == "jpg"))
    assert(drifts.filter(_._1 == "png").forall(_._2 == 0))
    val jpgDrift = drifts.filter(_._1 == "jpg").map(_._2).max
    assert(jpgDrift <= 16, s"jpeg phash drift $jpgDrift")
  }

  test("ann: brute top-k exact, lsh top-k recall") {
    val r = new scala.util.Random(13)
    val vecs = (0 until 200).map(i => (i.toLong, Array.fill(16)(r.nextFloat() * 2 - 1)))
    val corpus = vecs.toDF("id", "vec")
    val queries = vecs.take(5).map { case (i, v) => (i, v) }.toDF("qid", "vec")
    val brute = AnnCosine.bruteTopK(queries, corpus, 10)
      .select($"qid", $"id").as[(Long, Long)].collect().toSet
    // scala oracle
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val expected = (for ((qi, qv) <- vecs.take(5)) yield {
      vecs.filter(_._1 != qi).map { case (ci, cv) => (ci, cos(qv, cv)) }
        .sortBy { case (ci, s) => (-s, ci) }.take(10).map(c => (qi, c._1))
    }).flatten.toSet
    assert(brute == expected)
    val lsh = AnnCosine.lshTopKInt(queries, corpus, 10, dim = 16, tables = 24, planeBits = 4)
      .select($"qid", $"id").as[(Long, Long)].collect().toSet
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"lsh recall=$recall")
  }

  test("ann ivf: planted near-copy surfaces as rank-1 through the cell path") {
    // integer corpus: id 9 = id 0's vector with +1 on component 0
    // (cosine ~0.997); ids 1..4 have no planted partner
    def vec(id: Long): Array[Double] = Array.tabulate(16) { j =>
      val eid = if (id % 10 == 9) id - 9 else id
      val base = Math.floorMod(graft.functions.PolyHash.mix64(eid * 131L + j), 17) - 8
      (base + (if (id % 10 == 9 && j == 0) 1 else 0)).toDouble
    }
    val corpus = (0L until 200L).map(i => (i, vec(i))).toDF("id", "vec")
    val queries = Seq((0L, vec(0L))).toDF("qid", "vec")
    val got = AnnCosine.ivfTopKInt(queries, corpus, 10, nCells = 8, nProbe = 2)
      .select($"qid", $"id", $"rn").as[(Long, Long, Int)].collect()
    assert(got.nonEmpty)
    // the near-identical vector lands in the same cell and wins the rerank
    assert(got.find(_._3 == 1).map(_._2).contains(9L), s"got ${got.toSeq.sortBy(_._3)}")
  }
}

package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.Stage
import graft.streaming.EventStream

class StageAndStreamSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("stage snapshot: computed once, resumed from parquet, metrics written") {
    val dir = Files.createTempDirectory("graft_stage").toString
    val stage = new Stage(spark, dir)
    var computes = 0
    def body = { computes += 1; Seq((1L, "a"), (2L, "b")).toDF("k", "v") }
    val first = stage.run("s1")(body)
    assert(first.count() == 2 && computes == 1)
    val second = stage.run("s1")(body)
    assert(second.count() == 2 && computes == 1, "must resume, not recompute")
    val m = stage.metrics
    assert(m.where($"stage" === "s1").agg(sum($"rows_out")).as[Long].collect()(0) == 2)
    assert(m.columns.toSet ==
      Set("stage", "partition", "rows_in", "rows_out", "bytes_removed", "wall_ms"))
    // rows_in passthrough + bytes_removed derived from [s, e) snapshots
    stage.run("s2", rowsIn = 7L)(Seq((1L, 10L, 25L), (2L, 0L, 4L)).toDF("k", "s", "e"))
    val m2 = stage.metrics.where($"stage" === "s2")
      .agg(sum($"bytes_removed"), max($"rows_in")).as[(Long, Long)].collect()(0)
    assert(m2 == ((19L, 7L)))
  }

  test("null captions: distinct images are NOT collapsed by the content digest") {
    // regression: a NULL caption nulled the whole content concat, so the
    // content digest was NULL too and null-caption images either collapsed
    // into one group or dropped out of exact dedup altogether
    val images = Seq(
      ("i0", Array[Byte](1, 2, 3), 1, 1, "png", null.asInstanceOf[String], 10L),
      ("i1", Array[Byte](4, 5, 6), 1, 1, "png", null.asInstanceOf[String], 11L),
      ("i2", Array[Byte](1, 2, 3), 1, 1, "png", null.asInstanceOf[String], 10L), // true dup of i0
      ("i3", Array[Byte](1, 2, 3), 1, 1, "png", "cap", 10L)) // same bytes, real caption
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")

    // the batch pipeline survives null captions end to end: exactly one
    // exact dup edge, i2 -> i0 (i1's distinct bytes and i3's real caption
    // keep them apart), every image clustered, null-caption docs get
    // empty annotate ranges (no windows, not an NPE)
    val res = DedupPipeline.run(spark, images, DedupPipeline.Config())
    val ids = res.keyed.select($"k", $"image_id").as[(Long, String)].collect().toMap
    val edges = res.exactEdges.select($"a", $"b").as[(Long, Long)].collect()
      .map { case (a, b) => (ids(b), ids(a)) }
    assert(edges.toSeq == Seq(("i2", "i0")))
    assert(res.clusters.count() == 4)
    assert(res.annotated.where($"caption".isNull)
      .select(size($"sa_remove_ranges")).as[Int].collect().forall(_ == 0))
  }

  test("null bytes: images with NULL bytes and different captions are NOT merged") {
    // ExactDedup.flag groups NULL content as one value, so the bytes
    // digest must stay non-null for the content concat to keep the
    // captions apart
    val images = Seq(
      ("i0", null.asInstanceOf[Array[Byte]], 1, 1, "png", "cap a", 0L),
      ("i1", null.asInstanceOf[Array[Byte]], 1, 1, "png", "cap b", -1L),
      ("i2", null.asInstanceOf[Array[Byte]], 1, 1, "png", "cap a", 0x5555555555555555L),
      ("i3", Array[Byte](1, 2, 3), 1, 1, "png", "cap a", 0x3333333333333333L))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val res = DedupPipeline.run(spark, images, DedupPipeline.Config())
    val ids = res.keyed.select($"k", $"image_id").as[(Long, String)].collect().toMap
    val edges = res.exactEdges.select($"a", $"b").as[(Long, Long)].collect()
      .map { case (a, b) => (ids(b), ids(a)) }
    assert(edges.toSeq == Seq(("i2", "i0")))
  }

  test("streaming window counts equal batch on the same events") {
    val src = Files.createTempDirectory("graft_stream").toString
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(src)
    // a watermark needs TIMESTAMP; the fixture stores TIMESTAMP_NTZ
    val stream = spark.readStream.schema(events.schema).parquet(src)
      .withColumn("ts", $"ts".cast("timestamp"))
      .withWatermark("ts", "10 minutes")
    val q = EventStream.windowCounts(stream)
      .writeStream.format("memory").queryName("wc")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("wc")
      .as[(String, String, Long, Double)].collect().toSet
    val batch = EventStream.windowCounts(events)
      .as[(String, String, Long, Double)].collect().toSet
    // append-mode watermark holds back windows newer than (max ts - 10min):
    // streamed must be a subset; everything emitted must match batch exactly.
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch))
    assert((batch.size - streamed.size) <= 8, "only tail windows may be held back")
  }
}

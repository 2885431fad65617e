package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.ConnectedComponents
import graft.functions.StableIds

class GraphAndIdsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Union-find oracle. */
  private def bruteCC(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    for ((a, b) <- edges) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  test("connected components match union-find on random graphs (both paths)") {
    for (seed <- Seq(5, 6); threshold <- Seq(0L, Long.MaxValue)) {
      val r = new scala.util.Random(seed)
      val nodes = (0L until 120L).toSeq
      val edges = (0 until 90).map(_ => (r.nextInt(120).toLong, r.nextInt(120).toLong))
      val expected = bruteCC(nodes, edges)
      val got = ConnectedComponents.assign(
        nodes.toDF("id"), edges.toDF("a", "b"), smallGraphThreshold = threshold)
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"seed=$seed threshold=$threshold")
    }
  }

  test("cc handles empty edges, self loops, duplicate edges") {
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val empty = ConnectedComponents.assign(nodes, Seq.empty[(Long, Long)].toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(empty == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    val loops = ConnectedComponents.assign(
      nodes, Seq((1L, 1L), (2L, 3L), (3L, 2L), (2L, 3L)).toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(loops == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("cc long chain (diameter >> 1) converges to global min, distributed path") {
    val n = 64L
    val edges = (0L until n - 1).map(i => (i, i + 1))
    val got = ConnectedComponents.run(edges.toDF("a", "b"), smallGraphThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert((0L until n).forall(i => got(i) == 0L))
  }

  test("stable ids: dense, ordered, partitioning-independent") {
    val r = new scala.util.Random(9)
    val keys = (0 until 500).map(_ => f"id${r.nextInt(1000000)}%07d").distinct
    // the driver-side sort every input must number as: ascending, nulls first
    val nullsFirst: Ordering[Any] = (x, y) => (x, y) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
    val inputs: Seq[(String, DataFrame)] = Seq(
      "unique keys" -> keys.toDF("image_id"),
      "duplicate ids" -> Seq("b", "a", "b", "c", "a", "b").toDF("image_id"),
      "null ids" -> Seq("b", null, "a", null, "c").toDF("image_id"),
      "long ids" -> Seq(5L, -3L, 5L, Long.MaxValue, 0L, Long.MinValue).toDF("image_id"),
      "empty frame" -> Seq.empty[String].toDF("image_id"),
      // the test session runs 4 shuffle partitions
      "fewer rows than partitions" -> Seq("z", "y").toDF("image_id"))
    for ((name, df) <- inputs; parts <- Seq(3, 7)) {
      val m = StableIds.idMap(df.repartition(parts), "image_id", "k")
      assert(m.schema("image_id").dataType == df.schema("image_id").dataType, name)
      val got = m.collect().map(r => (r.getLong(1), r.get(0))).sortBy(_._1)
      assert(got.map(_._1).toSeq == (0L until got.length.toLong), s"$name: k not dense")
      assert(got.map(_._2).toSeq == df.collect().map(_.get(0)).sorted(nullsFirst).toSeq,
        s"$name over $parts partitions")
    }
    // two consumers of one map read the same pinned numbering
    val m = StableIds.idMap(keys.toDF("image_id"), "image_id", "k")
    val both = m.join(m.select(col("image_id"), col("k").as("k2")), "image_id")
    assert(both.count() == keys.length && both.where(col("k") =!= col("k2")).isEmpty)
  }

  test("stable ids: the id map writes one shuffle") {
    val sc = spark.sparkContext
    val ids = spark.range(0, 20000, 1, 4).select(format_string("id%06d", col("id")).as("image_id"))
    org.apache.spark.ListenerDrain(sc)
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffleStages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      assert(StableIds.idMap(ids, "image_id", "k").collect().length == 20000)
      org.apache.spark.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(shuffleStages.get == 1)
  }
}

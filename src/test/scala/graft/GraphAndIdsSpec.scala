package graft

import org.scalatest.funsuite.AnyFunSuite
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
    val sortedKeys = keys.sorted
    val df = keys.toDF("image_id")
    val a = StableIds.idMap(df.repartition(3), "image_id", "k")
      .as[(String, Long)].collect().toMap
    val b = StableIds.idMap(df.repartition(7), "image_id", "k")
      .as[(String, Long)].collect().toMap
    assert(a == b, "partitioning must not change ids")
    assert(a.values.toSeq.sorted == (0L until keys.length.toLong))
    assert(sortedKeys.zipWithIndex.forall { case (key, i) => a(key) == i.toLong })
  }
}

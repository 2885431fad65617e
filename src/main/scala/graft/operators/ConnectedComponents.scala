package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components by alternating large-star / small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14): O(log n) rounds, each round two window-min + shuffle steps;
  * per-round eager `localCheckpoint` truncates lineage so the plan doesn't
  * grow across iterations.
  *
  * No per-node neighbor lists are ever materialized (no collect_set): the
  * per-node minimum is a window MIN, so a dup cluster with millions of
  * members streams through a sort instead of building a giant array row.
  *
  * Converged state: every node points directly at its component minimum,
  * so cluster_id = min member id -- the deterministic labeling the
  * dup-cluster contract requires (first-occurrence keep at cluster level).
  */
object ConnectedComponents {

  private def canon(e: DataFrame): DataFrame =
    e.where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("hi"),
        least(col("a"), col("b")).as("lo"))
      .distinct()

  /** large-star: per node u (over the symmetric neighborhood),
    * m = min(N(u) + u); connect every neighbor v > u to m.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("hi").as("u"), col("lo").as("v"))
      .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
    sym
      .withColumn("m", least(min(col("v")).over(Window.partitionBy(col("u"))), col("u")))
      .where(col("v") > col("u") && col("v") =!= col("m"))
      .select(col("v").as("hi"), col("m").as("lo"))
    // no .distinct() here (round 6): smallStar's window-min is
    // duplicate-insensitive and its final distinct cleans the round's
    // output, so the mid-round dedup exchange bought nothing -- the
    // duplicate inflation is bounded by |sym| = 2|E| within one round
  }

  /** small-star: per node u over its SMALLER neighbors (edges are oriented
    * hi > lo, so group by hi), m = min of those; connect u and every
    * smaller neighbor to m.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val withM = e.withColumn("m", min(col("lo")).over(Window.partitionBy(col("hi"))))
    val neighborEdges = withM.where(col("lo") =!= col("m"))
      .select(col("lo").as("hi"), col("m").as("lo"))
    val selfEdges = withM.select(col("hi"), col("m").as("lo")).distinct()
    neighborEdges.unionAll(selfEdges).distinct()
  }

  private def signature(d: DataFrame): (Long, Long) = {
    // bit_xor: order-independent, overflow-free under ANSI mode.
    val r = d.agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("hi"), col("lo"))), lit(0L)).as("h")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Below this many (deduped) edges the graph is union-found on the
    * driver in one pass: iterative star-contraction costs ~10 Spark jobs
    * per round, pure scheduling latency on a graph that fits in tens of
    * MB. Above it, the O(log n) distributed path runs. Both produce the
    * identical min-label assignment.
    */
  val SmallGraphEdges: Long = 2000000L

  /** Star-contraction rounds before `run` fails loudly; convergence
    * takes O(log n) rounds.
    */
  private val MaxIter = 50

  private def unionFindLocal(pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) x = parent(x)
      var y = x0
      while (parent.getOrElse(y, y) != y) { val n = parent(y); parent(y) = x; y = n }
      x
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val keys = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toArray.distinct
    keys.iterator.map(k => k -> find(k)).toMap
  }

  /** edges(a: Long, b: Long) undirected (self-loops/dups tolerated) ->
    * assignments(id, comp) for every node incident to an edge.
    */
  def run(edges: DataFrame,
          smallGraphThreshold: Long = SmallGraphEdges): DataFrame = {
    val spark = edges.sparkSession
    var cur = canon(edges).localCheckpoint(true)
    if (cur.count() <= smallGraphThreshold) {
      val pairs = cur.collect().map(r => (r.getLong(0), r.getLong(1)))
      val assigned = unionFindLocal(pairs).toSeq
      import spark.implicits._
      return assigned.toDF("id", "comp")
    }
    var curSig = signature(cur)
    var converged = cur.isEmpty
    var iter = 0
    while (!converged && iter < MaxIter) {
      val next = smallStar(largeStar(cur)).localCheckpoint(true)
      val nextSig = signature(next)
      converged = nextSig == curSig
      cur = next
      curSig = nextSig
      iter += 1
    }
    // Fail loudly rather than emit multi-labeled nodes: a non-star result
    // would silently corrupt every downstream cluster assignment.
    require(converged || cur.isEmpty,
      s"connected components did not converge within $MaxIter rounds")
    cur.select(col("hi").as("id"), col("lo").as("comp"))
      .unionAll(cur.select(col("lo").as("id"), col("lo").as("comp")))
      .distinct()
  }

  /** Full assignment over a node universe: nodes(id) + edges(a,b) ->
    * (id, comp); isolated nodes map to themselves.
    */
  def assign(nodes: DataFrame, edges: DataFrame,
             smallGraphThreshold: Long = SmallGraphEdges): DataFrame = {
    val assigned = run(edges, smallGraphThreshold = smallGraphThreshold)
    nodes.select(col("id").cast("long"))
      .join(assigned, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }
}

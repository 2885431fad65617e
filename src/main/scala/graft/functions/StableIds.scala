package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dense, deterministic long ids from a unique string key, without a
  * global single-partition sort: range-partition by the key, number rows
  * within each partition, offset by the exclusive prefix sum of partition
  * counts (collected to the driver -- one row per partition).
  *
  * The (key -> id) map is MATERIALIZED (eager localCheckpoint) before use:
  * range-partition bounds are sampled per execution, and a later job that
  * prunes different columns gets different scan splits, different samples,
  * and therefore DIFFERENT ids -- a silent correctness bug (duplicate ids
  * across re-executions) unless the assignment is pinned once. Only the
  * narrow two-column map is pinned, never the payload; in a persistent
  * pipeline the `keyed` Stage snapshot plays this role on disk
  * (plans.Stage), which is also the 10^12-row answer (write the id map to
  * a table once, join thereafter).
  *
  * This reproduces the reference's stable global document order (sorted
  * file list x linenum, indexing_v6_sharded.py:179-189) in a form that
  * holds at scale: no stage ever sees more than one partition's rows, and
  * the tie-break order is a pure function of the data, never of task
  * scheduling (SURVEY.md §7.4).
  */
object StableIds {

  /** Narrow (idCol, outCol) map: one row per input row, outCol dense in
    * [0, n), ordered by idCol ascending. Materialized eagerly.
    */
  def idMap(df: DataFrame, idCol: String, outCol: String = "k"): DataFrame = {
    val spark = df.sparkSession
    val ranged = df.select(idCol)
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions, col(idCol))
      .withColumn("_pid", spark_partition_id())
    val withRn = ranged.withColumn("_rn",
      row_number().over(Window.partitionBy("_pid").orderBy(idCol)))
      .localCheckpoint(true) // pin ONE partitioning + numbering
    val counts = withRn.groupBy("_pid").agg(count(lit(1)).as("_n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, n)) => (pid, acc + n) }
    val offsetDf = spark.createDataFrame(
      counts.map(_._1).zip(offsets.map(_._2)).toSeq).toDF("_pid", "_off")
    withRn
      .join(broadcast(offsetDf), Seq("_pid"))
      .withColumn(outCol, (col("_off") + col("_rn") - 1).cast("long"))
      .select(col(idCol), col(outCol))
  }
}

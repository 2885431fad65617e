package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Dense, deterministic long ids from a sortable key column, without a
  * global single-partition sort: range-partition by the key, sort within
  * partitions, and let `zipWithIndex` number the rows in partition order
  * -- one shuffle, and no stage ever sees more than one partition's rows.
  *
  * The sorted key column is MATERIALIZED (eager localCheckpoint) before it
  * is numbered: range-partition bounds are sampled per execution, and a
  * later job that prunes different columns gets different scan splits,
  * different samples, and therefore DIFFERENT ids -- a silent correctness
  * bug (duplicate ids across re-executions) unless the order is pinned
  * once. `zipWithIndex` then counts the pinned partitions and numbers the
  * same pinned rows on every read, so the sort runs once and the counts
  * and the numbering can never see different partition sizes. Only the
  * narrow key column is pinned, never the payload; in a persistent
  * pipeline the `id_map` Stage snapshot plays this role on disk
  * (plans.Stage), which is also the 10^12-row answer (write the id map to
  * a table once, join thereafter).
  *
  * This reproduces the reference's stable global document order (sorted
  * file list x linenum, indexing_v6_sharded.py:179-189) in a form that
  * holds at scale: the tie-break order is a pure function of the data,
  * never of task scheduling (SURVEY.md §7.4).
  */
object StableIds {

  /** Narrow (idCol, outCol) map: one row per input row, outCol dense in
    * [0, n), ordered by idCol ascending (nulls first; equal keys get
    * distinct ids). The sorted keys are materialized eagerly.
    */
  def idMap(df: DataFrame, idCol: String, outCol: String = "k"): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.select(idCol)
      .repartitionByRange(col(idCol)) // no fixed count: AQE may merge adjacent ranges
      .sortWithinPartitions(idCol)
      .localCheckpoint(true) // pin ONE partitioning + order
    val schema = StructType(Seq(sorted.schema.head, StructField(outCol, LongType, nullable = false)))
    spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) => Row(r.get(0), i) },
      schema)
  }
}

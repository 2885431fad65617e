package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time windowed aggregation over the events table (the
  * `stream_window_counts` query). Built from column expressions only, so
  * the same transform runs unchanged on a batch or a streaming DataFrame.
  */
object EventStream {

  /** 5-minute tumbling-window counts and value totals per event type. */
  def windowCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("total_value"))
      .select(
        date_format(col("win.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("n"), col("total_value"))
}

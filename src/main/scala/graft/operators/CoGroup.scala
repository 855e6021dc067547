package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Windowed coGroup — the reference's
  * `a.coGroup(b).where(kA).equalTo(kB).window(W).apply(fn)` shape
  * ([U] flink-streaming-java api/datastream/CoGroupedStreams.java;
  * SURVEY.md §2.3 "windowed join / coGroup"): per (key, tumbling
  * window), BOTH sides' values are presented together — unlike a join,
  * keys present on only one side still emit (with the other side empty).
  *
  * Spark shape: tag each side, union, then ONE windowed hash aggregate
  * collecting per-side value lists — a single shuffle on (key, window),
  * no join, no second shuffle; works identically under `readStream`
  * (append emission once the watermark closes the window) because it is
  * a plain windowed aggregation.
  */
object CoGroup {

  /** Per (key, tumbling window): `a_values` / `b_values` arrays (sorted
    * for determinism). Columns named by the output: key, window_start,
    * window_end, a_values, b_values.
    */
  def tumbling(a: DataFrame, b: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, windowDuration: String): DataFrame = {
    def side(df: DataFrame, tag: Int): DataFrame =
      df.select(col(keyCol).as("key"), col(tsCol).as("__ts"),
        col(valueCol).as("__v"), lit(tag).as("__side"))
    val tagged = side(a, 0).unionByName(side(b, 1))
    tagged
      .groupBy(window(col("__ts"), windowDuration).as("w"), col("key"))
      .agg(
        sort_array(collect_list(when(col("__side") === 0, col("__v")))).as("a_values"),
        sort_array(collect_list(when(col("__side") === 1, col("__v")))).as("b_values"))
      .select(col("key"), col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("a_values"), col("b_values"))
  }
}

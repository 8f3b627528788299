package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Per-(window, group) heavy hitters IN-STREAM: the q126 SpaceSaving
  * sketch ([[graft.functions.Aggregators.SpaceSavingTopK]]) as the
  * aggregation function of a watermarked windowed groupBy — "top
  * domains per language, refreshed every window" without ever holding
  * a window's distinct-token set.
  *
  * Why this composes for free: SpaceSavingTopK is a typed Aggregator,
  * so Structured Streaming stores its ≤ capacity-entry BUFFER (not the
  * token multiset) per (window, group) key in the state store, merges
  * partial buffers across micro-batches with the same mergeable-
  * summaries combine the batch path uses, and the watermark bounds how
  * many windows hold state — per-key state is O(capacity) and total
  * state is O(open windows × groups × capacity) regardless of stream
  * volume. Append mode emits each window's top-k once, on close.
  *
  * Exactness contract is q126's: capacity ≥ the group's distinct
  * count → exact counts with err 0; above that the SpaceSaving bounds
  * hold (overcount ≤ err, presence above n/capacity guaranteed).
  */
object StreamingHeavyHitters {

  def topTokens(events: DataFrame, tsCol: String, windowLen: String,
                watermarkDelay: String, groupCol: String, tokCol: String): DataFrame = {
    val ss = udaf(new graft.functions.Aggregators.SpaceSavingTopK(Sketches.SpaceSavingCapacity))
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col(groupCol))
      .agg(ss(col(tokCol)).as("top"))
      .select(col("window.start").as("window_start"), col(groupCol),
        posexplode(col("top")))
      .filter(col("pos") < Sketches.SpaceSavingTopK)
      .select(col("window_start"), col(groupCol),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.token").as("token"), col("col.cnt").as("cnt"),
        col("col.err").as("err"))
  }

  /** Per-(window, group) value percentiles IN-STREAM — the q128 MRL
    * sketch under the same composition: the state store holds the
    * O(k·log(n/k)) level buffer (k = `Sketches.MrlK`) per (window, group) key, merges it
    * across micro-batches, and append mode emits each closed window's
    * p50/p95/p99 once — the latency-dashboard aggregation, state
    * bounded however many events a window sees. Exact below 2k events
    * per (window, group) (finish ≡ quantile_disc), rank-error-bounded
    * above (q128's property tests).
    */
  def windowPercentiles(events: DataFrame, tsCol: String, windowLen: String,
                        watermarkDelay: String, groupCol: String,
                        valCol: String): DataFrame = {
    val mrl = udaf(new graft.functions.Aggregators.MrlQuantiles(
      Sketches.MrlK, Seq(0.5, 0.95, 0.99)))
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col(groupCol))
      // count(valCol), not count(*): the sketch skips null values, so
      // n must describe the sketched population
      .agg(count(col(valCol)).as("n"), mrl(col(valCol)).as("qs"))
      .select(col("window.start").as("window_start"), col(groupCol),
        col("n"), element_at(col("qs"), 1).as("p50"),
        element_at(col("qs"), 2).as("p95"),
        element_at(col("qs"), 3).as("p99"))
  }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream joins (absent from the reference — SURVEY.md §2.5
  * lists them as a gap; an engine needs them for event-correlation
  * pipelines). Spark requires watermarks on both sides plus a time
  * bound in the join condition so each side's buffered state is
  * droppable — state is bounded by (watermark delay + interval) per
  * key, which is what makes this runnable forever at scale.
  */
object StreamJoins {

  /** Interval inner join: left events matched to right events of the
    * same key with right.ts in [left.ts - within, left.ts].
    * Both inputs must carry the given key/ts columns; output has
    * left.* and right columns prefixed `r_`.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   key: String, tsCol: String,
                   watermarkDelay: String, within: String): DataFrame =
    joinWithType(left, right, key, tsCol, watermarkDelay, within, "inner")

  /** Interval LEFT OUTER join: every left event emits — matched rows
    * as in [[intervalJoin]], unmatched left rows with nulls on the
    * `r_*` side once the watermark proves no future right event can
    * still fall inside the interval. This is the "enrich if the
    * correlated event ever arrives, emit anyway if it doesn't" shape
    * (click with/without purchase, request with/without response) that
    * an inner join silently drops. The null-side emission is therefore
    * DELAYED by (watermark delay + within) past the left event — the
    * price of a correct "never matched" proof; state stays bounded the
    * same way as the inner form.
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
                            key: String, tsCol: String,
                            watermarkDelay: String, within: String): DataFrame =
    joinWithType(left, right, key, tsCol, watermarkDelay, within, "left_outer")

  private def joinWithType(left: DataFrame, right: DataFrame,
                           key: String, tsCol: String, watermarkDelay: String,
                           within: String, joinType: String): DataFrame = {
    // the r_ prefix must not collide with an existing r_ column:
    // withColumnRenamed would then leave duplicate names and the join
    // condition an ambiguous reference — fail fast instead (e.g. when
    // chaining a previous interval-join OUTPUT, which already carries
    // r_-prefixed columns, back in as the right side)
    require(!right.columns.exists(_.startsWith("r_")),
      s"interval join: right side already has r_-prefixed columns " +
        s"(${right.columns.filter(_.startsWith("r_")).mkString(", ")}) — " +
        "rename them before joining (the join prefixes the right side " +
        "with r_)")
    // ...and symmetrically: a LEFT column already named r_<x> would
    // collide with the renamed right column <x> after prefixing
    val leftClashes = left.columns.toSet
      .intersect(right.columns.map("r_" + _).toSet)
    require(leftClashes.isEmpty,
      s"interval join: left side has columns (${leftClashes.mkString(", ")}) " +
        "that collide with the r_-prefixed right columns — rename them " +
        "before joining")
    val l = left.withWatermark(tsCol, watermarkDelay).alias("l")
    val rPrefixed = right.columns.foldLeft(right) { (df, c) =>
      df.withColumnRenamed(c, s"r_$c")
    }
    val r = rPrefixed.withWatermark(s"r_$tsCol", watermarkDelay).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.r_$key") &&
        col(s"r.r_$tsCol") >= col(s"l.$tsCol") - expr(s"INTERVAL $within") &&
        col(s"r.r_$tsCol") <= col(s"l.$tsCol"),
      joinType)
  }
}

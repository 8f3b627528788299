package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** AS-OF (temporal) join: for each left row, the single latest right row
  * of the same key with right.ts <= left.ts. The principled batch form
  * of "join a stream against a versioned/changelog dimension at event
  * time" — the reference's GlobalKTable join (SURVEY.md §2.5 J1) is the
  * degenerate current-snapshot case.
  *
  * Spark has no built-in as-of join. The naive formulations break at
  * scale: equi-join on key + range filter + rank explodes every
  * (left × right-history) pair before pruning. This implementation is
  * the scalable union+window form:
  *
  *   1. tag left and right rows, union them on a common shape,
  *   2. ONE shuffle on the key, sort within partition by (ts, side),
  *   3. running `last(right_payload, ignoreNulls)` carries the most
  *      recent right row forward onto each left row,
  *   4. keep left rows.
  *
  * Cost: one shuffle + one sort of |L|+|R| rows — no pair explosion,
  * no range-join quadratic corner. Right rows sort BEFORE left rows at
  * equal ts (inclusive <= semantics, matching DuckDB's ASOF JOIN, which
  * oracles q26).
  */
object AsOfJoin {

  /** @param left       probe side
    * @param right      versioned side
    * @param leftKey    join key column in `left`
    * @param rightKey   join key column in `right`
    * @param leftTs     event-time column in `left`
    * @param rightTs    version-time column in `right`
    * @param rightTie   deterministic tie-break among equal-ts right rows
    * @return left.* plus each right payload column as `asof_<name>`; a
    *         left row with no match is dropped (inner, as DuckDB's ASOF JOIN)
    */
  private[graft] def asof(left: DataFrame, right: DataFrame,
                          leftKey: String, rightKey: String,
                          leftTs: String, rightTs: String,
                          rightTie: String): DataFrame = {
    val rightPayload = right.columns.filterNot(_ == rightKey).toSeq
    val leftStruct = struct(left.columns.map(col).toIndexedSeq: _*)
    val rightStruct = struct(rightPayload.map(col).toIndexedSeq: _*)

    val l = left.select(
      col(leftKey).as("__key"), col(leftTs).as("__ts"), lit(1).as("__side"),
      lit(null).cast("long").as("__tie"),
      leftStruct.as("__l"),
      lit(null).cast(right.select(rightStruct).schema.head.dataType).as("__r"))
    val r = right.select(
      col(rightKey).as("__key"), col(rightTs).as("__ts"), lit(0).as("__side"),
      col(rightTie).cast("long").as("__tie"),
      lit(null).cast(left.select(leftStruct).schema.head.dataType).as("__l"),
      rightStruct.as("__r"))

    val w = Window.partitionBy(col("__key"))
      .orderBy(col("__ts").asc, col("__side").asc, col("__tie").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, 0)
    val matched = l.unionByName(r)
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1 && col("__match").isNotNull)
    val leftCols: Seq[Column] = left.columns.toSeq.map(c => col(s"__l.$c").as(c))
    val rightCols: Seq[Column] = rightPayload.map(c => col(s"__match.$c").as(s"asof_$c"))
    matched.select(leftCols ++ rightCols: _*)
  }

  /** FORWARD as-of join with a tolerance (q180) — pandas
    * merge_asof(direction='forward'): for each left row, the single
    * EARLIEST right row of the same key with
    * left.ts <= right.ts <= left.ts + tolerance. The "what happened
    * next" primitive: purchase → next error, alert → next ack,
    * deploy → next incident.
    *
    * Same union+window shape as [[asof]], scanned in DESCENDING time:
    * the running carry then holds the nearest FUTURE right row. At
    * equal ts rights still sort before lefts (inclusive >=); among
    * equal-ts rights the tie column sorts DESCENDING so the carry
    * (last-seen wins) lands on the smallest tie — the same
    * deterministic winner the ascending form picks. The tolerance is
    * a post-carry filter: the carried row is by construction the
    * nearest forward match, so "nearest within tolerance" and
    * "carried ∧ within tolerance" coincide. Cost is unchanged: one
    * shuffle + one sort of |L|+|R|, no pair explosion.
    */
  def asofForward(left: DataFrame, right: DataFrame,
                  leftKey: String, rightKey: String,
                  leftTs: String, rightTs: String,
                  rightTie: String, toleranceUs: Long): DataFrame = {
    val rightPayload = right.columns.filterNot(_ == rightKey).toSeq
    val leftStruct = struct(left.columns.map(col).toIndexedSeq: _*)
    val rightStruct = struct(rightPayload.map(col).toIndexedSeq: _*)

    val l = left.select(
      col(leftKey).as("__key"), col(leftTs).as("__ts"), lit(1).as("__side"),
      lit(null).cast("long").as("__tie"),
      leftStruct.as("__l"),
      lit(null).cast(right.select(rightStruct).schema.head.dataType).as("__r"))
    val r = right.select(
      col(rightKey).as("__key"), col(rightTs).as("__ts"), lit(0).as("__side"),
      col(rightTie).cast("long").as("__tie"),
      lit(null).cast(left.select(leftStruct).schema.head.dataType).as("__l"),
      rightStruct.as("__r"))

    val w = Window.partitionBy(col("__key"))
      .orderBy(col("__ts").desc, col("__side").asc, col("__tie").desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, 0)
    val matched = l.unionByName(r)
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1 && col("__match").isNotNull &&
        unix_micros(col("__match").getField(rightTs)) - unix_micros(col("__ts")) <= toleranceUs)
    val leftCols: Seq[Column] = left.columns.toSeq.map(c => col(s"__l.$c").as(c))
    val rightCols: Seq[Column] = rightPayload.map(c => col(s"__match.$c").as(s"asof_$c"))
    matched.select(leftCols ++ rightCols: _*)
  }
}

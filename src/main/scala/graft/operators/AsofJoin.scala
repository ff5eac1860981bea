package graft.operators

import org.apache.spark.sql.DataFrame

/** Distributed as-of join.
  *
  * Spark has no built-in as-of join (the polars primitive the
  * reference leans on for its dynamic labels —
  * polars_trading/labels/dynamic_labels.py:53,133).
  * [[asofNative]] plans one graft.plans.AsofJoinExec: both sides
  * co-partitioned on the `by` keys and sorted by (by, key), then one
  * streaming merge per partition — no row duplication, no window
  * buffering, no broadcast, no driver materialization. The exchanges
  * and sorts are Catalyst-planned requirements, elided when the input
  * is already partitioned/sorted (e.g. a date/symbol TradeStore).
  *
  * Semantics (both inclusive, matching polars `join_asof` and DuckDB
  * `ASOF JOIN`):
  *  - Backward: latest right row with rightOn <= leftOn.
  *  - Forward:  earliest right row with rightOn >= leftOn.
  * Ties on the key within a side resolve to the last (backward) /
  * first (forward) right row in sort order. Null keys on either side
  * match nothing.
  *
  * At 100 TB: the shuffle is keyed on `by`; a hot key serializes its
  * merge, so callers should include a splitting component in `by`
  * (e.g. (symbol, date)) when a single group would exceed one
  * executor's throughput and the as-of horizon permits it.
  */
object AsofJoin {

  sealed trait Direction
  case object Backward extends Direction
  case object Forward extends Direction

  /** polars `strategy="nearest"`: the right row minimizing
    * |leftOn - rightOn| (within tolerance when given); a distance tie
    * resolves to the backward (earlier) candidate, and equal keys are
    * folded into the backward candidate (last of the equals).
    */
  case object Nearest extends Direction

  /** Joins `right`'s value columns onto `left`.
    *
    * @param left    any columns; `leftOn` must be orderable
    * @param right   must contain `by` ++ (`rightOn`) ++ value columns;
    *                value column names must not clash with left's
    * @param tolerance max |leftOn - rightOn| in the key's native units
    *                (micros for timestamp keys, days for dates);
    *                None = unbounded
    */
  def asofNative(
      left: DataFrame,
      right: DataFrame,
      leftOn: String,
      rightOn: String,
      by: Seq[String] = Nil,
      direction: Direction = Backward,
      tolerance: Option[Double] = None,
  ): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsofJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsofJoinStrategy
    }
    val lPlan = left.queryExecution.analyzed
    // fresh exprIds on the right side: the analyzer's relation-dedup
    // never sees this hand-built node, so a self-asof would otherwise
    // carry identical attribute ids in both children
    val rPlan = right
      .select(right.columns.map(n => right(n).as(n)).toSeq: _*)
      .queryExecution
      .analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      plan.output
        .find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"column $name not found"))
    val rightVals = rPlan.output.filterNot(a => by.contains(a.name) || a.name == rightOn)
    require(
      rightVals.nonEmpty && rightVals.forall(a => !left.columns.contains(a.name)),
      s"right value columns ${rightVals.map(_.name).mkString(",")} must be non-empty and not clash with left",
    )
    val node = graft.plans.AsofJoinPlan(
      lPlan,
      rPlan,
      by.map(attr(lPlan, _)),
      by.map(attr(rPlan, _)),
      attr(lPlan, leftOn),
      attr(rPlan, rightOn),
      rightVals,
      forward = direction == Forward,
      nearest = direction == Nearest,
      tolerance = tolerance,
    )
    ColumnBridge.ofRows(spark, node)
  }
}

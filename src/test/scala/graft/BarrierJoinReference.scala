package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.TradingCols
import graft.operators.{Labels, RangeJoin}

/** Reference form of the triple-barrier crossing aggregation that
  * `Labels.tripleBarrierCoreScan` computes: a bucketed interval join
  * of events × path ticks, then min/min_by/max_by per event. Same
  * output columns (symbol, ts, price, trgt, t1, pt_ts, sl_ts,
  * __pt_ret, __sl_ret, __v_ret); the scan must match it bit for bit.
  */
object BarrierJoinReference {

  def tripleBarrierCore(
      df: DataFrame,
      horizon: String,
      ptMult: Double,
      slMult: Double,
      volSpan: Int,
      constTarget: Option[Double],
      c: TradingCols,
  ): DataFrame = {
    val horizonMicros = Labels.parseHorizonMicros(horizon)

    val lastTs = df
      .groupBy(col(c.symbol))
      .agg(max(col(c.ts)).as("__last_ts"))

    val withTarget = constTarget match {
      case Some(x) =>
        df.select(col(c.symbol), col(c.ts), col(c.price)).withColumn("trgt", lit(x))
      case None =>
        val vol = Labels.dailyVol(df, volSpan, c)
          .withColumnRenamed("daily_return_volatility", "trgt")
        df.select(col(c.symbol), col(c.ts), col(c.price)).join(vol, Seq(c.symbol, c.ts))
    }
    val events = withTarget
      .join(broadcast(lastTs), Seq(c.symbol))
      .where(col("trgt").isNotNull && col("trgt") > 0)
      .withColumn(
        "t1",
        least(col(c.ts) + expr(s"INTERVAL $horizon"), col("__last_ts")),
      )
      .drop("__last_ts")

    // bucketed range join: event intervals [ts..t1] x path ticks
    val path = df.select(col(c.symbol), col(c.ts).as("__u"), col(c.price).as("__pu"))
    val touches = RangeJoin
      .intervalJoin(
        events,
        path,
        by = Seq(c.symbol),
        startCol = c.ts,
        endCol = "t1",
        pointCol = "__u",
        bucketMicros = horizonMicros,
      )
      .withColumn("__ret", Labels.safeDiv(col("__pu"), col(c.price)) - 1)
      .withColumn("__pt_u", when(col("__ret") >= col("trgt") * ptMult, col("__u")))
      .withColumn("__sl_u", when(col("__ret") <= -col("trgt") * slMult, col("__u")))
    // min_by / arg_min skip rows with null ordering in both Spark and
    // DuckDB, so the CASE-guarded orderings select the earliest
    // crossing tick (and its realized return) directly.
    touches
      .groupBy(col(c.symbol), col(c.ts), col(c.price), col("trgt"), col("t1"))
      .agg(
        min(col("__pt_u")).as("pt_ts"),
        min(col("__sl_u")).as("sl_ts"),
        min_by(col("__ret"), col("__pt_u")).as("__pt_ret"),
        min_by(col("__ret"), col("__sl_u")).as("__sl_ret"),
        max_by(col("__ret"), col("__u")).as("__v_ret"),
      )
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.TradingCols
import graft.operators.RangeJoin

/** The pair-materializing forms of `Labels.uniquenessWeights` and
  * `Labels.returnAttribution`, kept as the references the chunked-fold
  * scans are pinned against: a bucketed interval join of events ×
  * ticks (quadratic in tick density), the concurrency count per tick,
  * then an ordered fold per event. `bucket` is the join's bucket width.
  */
object WeightPairsReference {

  /** Pair form of `Labels.returnAttribution`. */
  def returnAttribution(
      trades: DataFrame,
      events: DataFrame,
      bucket: String = "10 minutes",
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    val bucketUs = java.util.concurrent.TimeUnit.MINUTES.toMicros(
      bucket match {
        case s if s.endsWith("minutes") => s.stripSuffix("minutes").trim.toLong
        case other => throw new IllegalArgumentException(s"bucket: $other")
      }
    )
    val w = Window.partitionBy(col(c.symbol)).orderBy(col(c.ts), col(c.tradeId))
    val ticks = trades
      .select(
        col(c.symbol).as("symbol"),
        col(c.ts).as("ts"),
        col(c.tradeId).as("trade_id"),
        log(col(c.price) / lag(col(c.price), 1).over(w)).as("ret"),
      )
      .where(col("ret").isNotNull)
    val pairs = RangeJoin
      .intervalJoin(
        events.select(col("symbol"), col("t0"), col("t1"), col("event_id")),
        ticks,
        by = Seq("symbol"),
        startCol = "t0",
        endCol = "t1",
        pointCol = "ts",
        bucketMicros = bucketUs,
        inclusiveStart = true,
      )
      .select(col("symbol"), col("event_id"), col("ts"), col("trade_id"), col("ret"))
    val conc = pairs
      .groupBy(col("symbol"), col("ts"), col("trade_id"))
      .agg(count(lit(1)).as("c"))
    pairs
      .join(conc, Seq("symbol", "ts", "trade_id"))
      .groupBy(col("symbol"), col("event_id"))
      .agg(
        aggregate(
          array_sort(collect_list(struct(
            unix_micros(col("ts")).as("us"),
            col("trade_id").as("tid"),
            (col("ret") / col("c")).as("rc"),
          ))),
          lit(0.0),
          (acc, x) => acc + x.getField("rc"),
        ).as("__s"),
        count(lit(1)).as("n_ticks"),
      )
      .select(
        col("symbol"),
        col("event_id"),
        abs(col("__s")).as("attribution"),
        col("n_ticks"),
      )
  }

  /** Pair form of `Labels.uniquenessWeights`. */
  def uniquenessWeights(
      trades: DataFrame,
      events: DataFrame,
      bucket: String = "10 minutes",
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    val bucketUs = java.util.concurrent.TimeUnit.MINUTES.toMicros(
      bucket match {
        case s if s.endsWith("minutes") => s.stripSuffix("minutes").trim.toLong
        case other => throw new IllegalArgumentException(s"bucket: $other")
      }
    )
    val ticks = trades.select(
      col(c.symbol).as("symbol"),
      col(c.ts).as("ts"),
      col(c.tradeId).as("trade_id"),
    )
    val pairs = RangeJoin
      .intervalJoin(
        events.select(col("symbol"), col("t0"), col("t1"), col("event_id")),
        ticks,
        by = Seq("symbol"),
        startCol = "t0",
        endCol = "t1",
        pointCol = "ts",
        bucketMicros = bucketUs,
        inclusiveStart = true,
      )
      .select(col("symbol"), col("event_id"), col("ts"), col("trade_id"))
    val conc = pairs
      .groupBy(col("symbol"), col("ts"), col("trade_id"))
      .agg(count(lit(1)).as("c"))
    pairs
      .join(conc, Seq("symbol", "ts", "trade_id"))
      .groupBy(col("symbol"), col("event_id"))
      .agg(
        aggregate(
          array_sort(collect_list(struct(
            unix_micros(col("ts")).as("us"),
            col("trade_id").as("tid"),
            (lit(1.0) / col("c")).as("inv"),
          ))),
          lit(0.0),
          (acc, x) => acc + x.getField("inv"),
        ).as("__sinv"),
        count(lit(1)).as("n_ticks"),
      )
      .select(
        col("symbol"),
        col("event_id"),
        (col("__sinv") / col("n_ticks").cast("double")).as("avg_uniqueness"),
        col("n_ticks"),
      )
  }
}

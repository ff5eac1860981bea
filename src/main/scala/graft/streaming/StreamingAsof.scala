package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming backward as-of join — the stream-enrichment twin of
  * graft.operators.AsofJoin.asofNative: each tick gets the latest reference
  * observation (quote, rate, model score) at or before its event
  * time.
  *
  * Correctness under disorder comes from the watermark: a tick is
  * emittable only once the watermark passes its event time — after
  * that, any still-arriving reference row would be older than the
  * watermark and dropped upstream, so "latest ref <= tick.ts" is
  * final. Until then ticks wait in state. Reference state is pruned
  * to the rows inside the watermark horizon plus ONE carry row (the
  * latest at-or-below the watermark), so per-key state is O(horizon
  * density), not O(history) — bounded regardless of stream length.
  *
  * Both inputs are unioned (tagged) into one keyed stream, so the
  * whole operator is ONE flatMapGroupsWithState after one exchange on
  * the key — no stream-stream join state machinery, no broadcast.
  */
object StreamingAsof {

  final case class Tagged(
      symbol: String,
      ts: Timestamp,
      isTick: Boolean,
      price: Double,
      size: Long,
      trade_id: Long,
      ref: Double,
  )

  final case class Enriched(
      symbol: String,
      ts: Timestamp,
      price: Double,
      size: Long,
      trade_id: Long,
      ref_ts: Option[Timestamp],
      ref: Option[Double],
  )

  final case class AsofState(
      // (tsUs, ref) ascending; head may be the carry row below the watermark
      refs: Vector[(Long, Double)],
      // ticks awaiting the watermark, ascending (tsUs, trade_id, price, size)
      pending: Vector[(Long, Long, Double, Long)],
  )

  /** @param ticks streaming frame: symbol/ts/price/size/trade_id
    * @param refs  streaming frame: symbol/ts/ref (double)
    * @param watermark lateness horizon shared by both inputs
    */
  def asofBackward(
      ticks: DataFrame,
      refs: DataFrame,
      watermark: String = "1 hour",
  ): Dataset[Enriched] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    val l = ticks
      .select(
        col("symbol").cast("string"),
        col("ts").cast("timestamp"),
        lit(true).as("isTick"),
        col("price").cast("double"),
        col("size").cast("long"),
        col("trade_id").cast("long"),
        lit(Double.NaN).as("ref"),
      )
      .withWatermark("ts", watermark)
    val r = refs
      .select(
        col("symbol").cast("string"),
        col("ts").cast("timestamp"),
        lit(false).as("isTick"),
        lit(0.0).as("price"),
        lit(0L).as("size"),
        lit(-1L).as("trade_id"),
        col("ref").cast("double"),
      )
      .withWatermark("ts", watermark)
    l.union(r)
      .as[Tagged]
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        processKey
      )
  }

  private def processKey(
      symbol: String,
      rows: Iterator[Tagged],
      state: GroupState[AsofState],
  ): Iterator[Enriched] = {
    val prev = state.getOption.getOrElse(AsofState(Vector.empty, Vector.empty))
    var refs = prev.refs
    var pending = prev.pending

    rows.foreach { t =>
      val us = StatefulBars.tsMicros(t.ts)
      if (t.isTick) pending :+= ((us, t.trade_id, t.price, t.size))
      else refs :+= ((us, t.ref))
    }
    refs = refs.sortBy(_._1)
    pending = pending.sortBy(p => (p._1, p._2))

    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val (emit, wait) = pending.partition(_._1 <= wmUs)
    val out = emit.map { case (us, tradeId, price, size) =>
      // latest ref at or before the tick (refs ascending)
      val at = refs.takeWhile(_._1 <= us).lastOption
      Enriched(
        symbol,
        StatefulBars.microsTs(us),
        price,
        size,
        tradeId,
        at.map(r => StatefulBars.microsTs(r._1)),
        at.map(_._2),
      )
    }
    // prune refs: everything inside the horizon plus one carry row
    val below = refs.filter(_._1 <= wmUs)
    refs = (if (below.isEmpty) Vector.empty else Vector(below.last)) ++ refs.filter(_._1 > wmUs)

    if (wait.isEmpty && refs.isEmpty) state.remove()
    else {
      state.update(AsofState(refs, wait))
      if (wait.nonEmpty)
        // wake when the watermark passes the oldest waiting tick
        state.setTimeoutTimestamp(wait.head._1 / 1000L + 1L)
    }
    out.iterator
  }
}

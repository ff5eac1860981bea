package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.TradingCols
import graft.plans.{KeyedScan, ScanKernel, ScanOut}

/** Chu-Stinchcombe-White levels CUSUM test (AFML ch.17.4.2, beyond
  * the reference — the structural-break detector next to [[Sadf]]):
  * for each observation t, the standardized departure from a past
  * reference level,
  *
  *   S_{n,t} = (y_t − y_{t−n}) / (σ̂_t · √n),
  *
  * taken as the SUPREMUM over backward lags n ∈ [minLag, maxLag]
  * (the bounded lag set is the scalable form, exactly like the
  * bounded SADF window set), where σ̂²_t = (Σ_{i≤t} Δy_i²) / (#Δ up
  * to t) is the expanding variance of one-step changes. The paired
  * one-sided critical value b(n) = √(b₀ + ln n) with b₀ = 4.6 (the
  * 0.05-level constant from the CSW paper) is emitted alongside so
  * `cs_stat > cs_crit` flags a break.
  *
  * Exactness: y is integer cents, so y_t − y_{t−n} and the Δ²-sum
  * are exact BIGINTs; the statistic is one fixed double tree over
  * them, replicated op-for-op by the DuckDB oracle (lag columns +
  * unnest + QUALIFY argmax). Sup tie-break: smallest lag. σ̂ = 0
  * (flat history) → 0.0, the no-evidence convention shared with
  * Sadf's zero-variance guard.
  *
  * Scale shape (the [[Sadf]] pattern): one keyed scan per symbol in
  * (ts, trade_id) order with O(maxLag) state, a ring of the last
  * maxLag+1 level snapshots — ~3 flops per (row, lag), no windows, no
  * per-row allocation; on a symbol-clustered tape it plans no
  * exchange.
  */
object StructuralBreak {

  def cswScan(
      df: DataFrame,
      minLag: Int = 10,
      maxLag: Int = 40,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    require(minLag >= 1, "lag must be positive")
    require(maxLag >= minLag, "maxLag >= minLag")
    val out = StructType(Seq(
      StructField("symbol", StringType),
      StructField("ts", TimestampType),
      StructField("price", DoubleType, nullable = false),
      StructField("best_lag", IntegerType, nullable = false),
      StructField("cs_stat", DoubleType, nullable = false),
      StructField("cs_crit", DoubleType, nullable = false),
    ))
    KeyedScan(Bars.pricedTicks(df, c), Seq(col(c.symbol)), Seq(col(c.ts), col(c.tradeId)), out,
      keyOut = Seq("symbol")) { () =>
      new ScanKernel {
        private val ringLen = maxLag + 1
        private val ring = new Array[Long](ringLen)
        private var key: InternalRow = null
        private var rn = -1L // 0-based row index within symbol; #deltas = rn
        private var prevCents = 0L
        private var cdd = 0L // Σ Δ² (exact)

        def reset(k: InternalRow): Unit = { key = k; rn = -1L; cdd = 0L }

        def step(row: InternalRow, o: ScanOut): Unit = {
          val price = row.getDouble(2)
          // HALF_UP like Catalyst/DuckDB round(): plain math.round
          // sends negative half-cents toward +inf
          val cents = graft.streaming.StatefulBars.cents(price)
          rn += 1
          if (rn == 0L) { ring(0) = cents; prevCents = cents }
          else {
            val d = cents - prevCents
            prevCents = cents
            cdd += d * d
            ring((rn % ringLen).toInt) = cents
            if (rn >= maxLag) {
              var bestS = Double.NegativeInfinity
              var bestN = minLag
              if (cdd == 0L) { bestS = 0.0 }
              else {
                val sigma = math.sqrt(cdd.toDouble / rn.toDouble)
                var n = minLag
                while (n <= maxLag) {
                  val dy = cents - ring(((rn - n) % ringLen).toInt)
                  val s = dy.toDouble / (sigma * math.sqrt(n.toDouble))
                  if (s > bestS) { bestS = s; bestN = n }
                  n += 1
                }
              }
              val w = o.begin()
              o.copy(0, key, 0, StringType)
              o.copy(1, row, 1, TimestampType)
              w.write(2, price)
              w.write(3, bestN)
              w.write(4, bestS)
              w.write(5, math.sqrt(4.6 + math.log(bestN.toDouble)))
              o.emit()
            }
          }
        }

        def flush(o: ScanOut): Unit = ()
      }
    }
  }
}

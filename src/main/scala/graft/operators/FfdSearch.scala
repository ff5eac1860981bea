package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.TradingCols
import graft.functions.FracDiff
import graft.plans.{KeyedScan, ScanKernel, ScanOut}

/** Minimum-d search for fractional differencing (AFML ch.5.5): for a
  * grid of d values, fractionally difference the price series and run
  * the ADF regression  Δx_t = α + β·x_{t-1} + ε  on the result — the
  * smallest d whose ADF t-stat clears the critical value is "the
  * least differencing that achieves stationarity while preserving
  * maximal memory", the chapter's headline deliverable.
  *
  * Output: one row per (symbol, d) with the ADF t-stat, observation
  * count, and a stationary flag at the 5% critical value (-2.86) —
  * the per-symbol min d is then a trivial filter.
  *
  * Determinism: FFD values are doubles, so the ADF moments are
  * accumulated by a per-(symbol, d) ORDERED fold over the
  * (ts, trade_id)-sorted series (a parallel double SUM would drift
  * with partitioning); the oracle replays the identical fold with a
  * DuckDB list_reduce over a scalar-struct accumulator. The t-stat
  * tree then matches op-for-op.
  *
  * Scale note: one keyed scan per symbol folds every d at once, so a
  * symbol's whole series streams through one task — the price of
  * bit-stable double moments over a non-associative reduction. State
  * is O(max n_w + |ds|), whatever the history's length.
  */
object FfdSearch {

  val CriticalValue5pct: Double = -2.86

  def adfGrid(
      df: DataFrame,
      ds: Seq[Double] = Seq(0.0, 0.2, 0.4, 0.6, 0.8, 1.0),
      threshold: Double = 1e-3,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    require(ds.nonEmpty && ds == ds.distinct)
    // ONE streaming scan per symbol computes every d's FFD dot from a
    // price ring buffer AND folds its ADF moments in time order — the
    // declarative alternative plans one lag window function per FFD
    // weight (hundreds across the grid; WindowExec is super-linear in
    // function count, the sadf lesson), and a collect+fold pays the
    // array materialization. The scan is O(Σ n_w) flops per row with
    // O(max n_w) state, and its arithmetic replicates the declarative
    // trees exactly: the dot adds weight terms left-to-right, the
    // moment fold adds pairs in time order (both oracle-pinned).
    val weightSets = ds.map(d => FracDiff.weights(d, threshold)).toArray
    val dsArr = ds.toArray
    val maxW = weightSets.map(_.length).max
    val nD = dsArr.length
    val out = StructType(Seq(StructField("symbol", StringType), StructField("d", DoubleType, nullable = false),
      StructField("n_vals", LongType, nullable = false)) ++
      Seq("sx", "sxx", "sd", "sdd", "sxd").map(StructField(_, DoubleType, nullable = false)))
    val moments = KeyedScan(Bars.pricedTicks(df, c), Seq(col(c.symbol)), Seq(col(c.ts), col(c.tradeId)), out,
      keyOut = Seq("symbol")) { () =>
      new ScanKernel {
        private var key: InternalRow = null
        private var rn = 0L
        private val ring = new Array[Double](maxW) // last prices, slot rn % maxW
        private val nVals = new Array[Long](nD)
        private val prev = new Array[Double](nD)
        private val sx, sxx, sd, sdd, sxd = new Array[Double](nD)

        def reset(k: InternalRow): Unit = {
          key = k; rn = 0L
          java.util.Arrays.fill(nVals, 0L)
          for (a <- Seq(prev, sx, sxx, sd, sdd, sxd)) java.util.Arrays.fill(a, 0.0)
        }

        def step(row: InternalRow, o: ScanOut): Unit = {
          val price = row.getDouble(2)
          rn += 1
          ring((rn % maxW).toInt) = price
          var i = 0
          while (i < nD) {
            val ws = weightSets(i)
            if (rn >= ws.length) {
              // left-to-right weight sum, same order as the window form
              var acc = ws(0) * price
              var k = 1
              while (k < ws.length) {
                acc += ws(k) * ring(((rn - k) % maxW).toInt)
                k += 1
              }
              val y = acc
              if (nVals(i) > 0) {
                val x = prev(i)
                val dd = y - x
                sx(i) += x; sxx(i) += x * x; sd(i) += dd; sdd(i) += dd * dd; sxd(i) += x * dd
              }
              prev(i) = y
              nVals(i) += 1
            }
            i += 1
          }
        }

        def flush(o: ScanOut): Unit = {
          var i = 0
          while (i < nD) {
            val w = o.begin()
            o.copy(0, key, 0, StringType)
            w.write(1, dsArr(i))
            w.write(2, nVals(i))
            w.write(3, sx(i)); w.write(4, sxx(i)); w.write(5, sd(i)); w.write(6, sdd(i)); w.write(7, sxd(i))
            o.emit()
            i += 1
          }
        }
      }
    }

    val nd = (col("n_vals") - lit(1L)).cast("double")
    val den = nd * col("sxx") - col("sx") * col("sx")
    val num = nd * col("sxd") - col("sx") * col("sd")
    val b = num / den
    val sxxc = den / nd
    val sddc = col("sdd") - col("sd") * col("sd") / nd
    val ssr = sddc - b * b * sxxc
    val tstat = when(col("n_vals") < 3L || den === lit(0.0), lit(0.0))
      .when(ssr <= lit(0.0), signum(num) * lit(1e308))
      .otherwise(b * sqrt(sxxc) / sqrt(ssr / (nd - lit(2.0))))
    moments.select(
      col("symbol"),
      col("d"),
      (col("n_vals") - 1L).as("n_obs"),
      tstat.as("adf_t"),
      (tstat < lit(CriticalValue5pct)).cast("int").as("stationary"),
    )
  }
}

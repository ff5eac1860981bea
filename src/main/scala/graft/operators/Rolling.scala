package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.api.TradingCols
import graft.plans.{KeyedScan, ScanKernel, ScanOut}

/** Event-time rolling features over trailing time windows.
  *
  * Two implementations with identical semantics (bit-identical output,
  * pinned with doubleToLongBits in CoreOperatorsSpec):
  *
  *  - [[featuresDeclarative]]: RANGE frames on epoch-micros. Spark
  *    recomputes sliding frames per row (no retraction), so this is
  *    O(n·w) per partition — fine at bench scale, quadratic-ish for
  *    wide windows at 100 TB.
  *  - [[features]] (default for windows <= 1 day): one keyed scan per
  *    symbol in time order with monotonic deques, O(n) amortized
  *    (incremental sums, min/max via monotonic deques). It reads the
  *    tape once: on a symbol-clustered input (`TradeData.fromEvents`)
  *    it plans no exchange at all.
  *
  * Bit-exactness: the mean/vwap sums accumulate in exact integer
  * CENTS (prices are 2-decimal, so `round(price*100)` is an exact
  * Long and sums of cents·size are exact Longs), with one double
  * division per emitted row. Integer accumulation is order- and
  * algorithm-independent, so the incremental add/evict scan, the
  * RANGE-frame recompute, and the DuckDB oracle produce the SAME
  * IEEE double bit pattern — pinned with doubleToLongBits in
  * CoreOperatorsSpec (round 2 shipped float accumulate-subtract here
  * and drifted past the driver hash; this is the fix).
  */
object Rolling {

  /** Appends trailing-window features over the last `window`
    * (inclusive of the current tick):
    *  - rolling_vwap, rolling_mean_price, rolling_min/max, rolling_n
    *
    * Column contract: by default the output carries EVERY input
    * column, so a shuffle moves full rows — the right default for
    * the bench queries (they consume all columns), but real money on
    * a wide table at 100 TB. Pass `keep` to project the input to
    * `keep` ∪ the compute columns (symbol/ts/price/size) BEFORE the
    * shuffle; the projection reaches the parquet scan (pinned in
    * ExplainSpec), and the output then carries only those columns.
    */
  def features(
      df: DataFrame,
      window: String = "1 hour",
      c: TradingCols = TradingCols.default,
      keep: Seq[String] = Nil,
  ): DataFrame = {
    val base =
      if (keep.isEmpty) df
      else df.select((Seq(c.symbol, c.ts, c.price, c.size) ++ keep).distinct.map(col): _*)
    val m = windowMicros(window)
    if (m > 86400000000L) featuresDeclarative(base, window, c)
    else featuresScan(base, Seq("" -> m), c)
  }

  /** RANGE-frame formulation (also the shape the DuckDB oracle uses). */
  def featuresDeclarative(
      df: DataFrame,
      window: String = "1 hour",
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    val micros = windowMicros(window)
    val w = Window
      .partitionBy(col(c.symbol))
      .orderBy(unix_micros(col(c.ts)))
      .rangeBetween(-micros, 0)
    val cents = round(col(c.price) * lit(100)).cast(LongType)
    df.withColumn(
        "rolling_vwap",
        sum(cents * col(c.size)).over(w).cast(DoubleType)
          / sum(col(c.size)).over(w).cast(DoubleType) / lit(100.0),
      )
      .withColumn(
        "rolling_mean_price",
        sum(cents).over(w).cast(DoubleType)
          / count(lit(1)).over(w).cast(DoubleType) / lit(100.0),
      )
      .withColumn("rolling_min", min(col(c.price)).over(w))
      .withColumn("rolling_max", max(col(c.price)).over(w))
      .withColumn("rolling_n", count(lit(1)).over(w))
  }

  /** Multi-window features in ONE pass: every window's
    * vwap/mean/min/max/n columns (suffixed `_<name>`, where name is
    * the window spec with spaces stripped, e.g. `rolling_vwap_30minutes`)
    * computed from a single per-symbol scan — at most one shuffle, one
    * sort, one pass over the ticks regardless of window count. The
    * per-window marginal cost is just its deque bookkeeping; Spark's
    * sliding RANGE frames would pay an O(n·w) recompute PER WINDOW
    * plus repeated window passes. All windows must be <= 1 day, as in
    * [[features]]; compose featuresDeclarative per longer window.
    */
  def featuresMulti(
      df: DataFrame,
      windows: Seq[String],
      c: TradingCols = TradingCols.default,
      keep: Seq[String] = Nil,
  ): DataFrame = {
    require(windows.nonEmpty)
    val specs = windows.map(w => ("_" + w.trim.replaceAll("\\s+", ""), windowMicros(w)))
    require(specs.forall(_._2 <= 86400000000L), "all windows must be <= 1 day (featuresDeclarative for longer ones)")
    val base =
      if (keep.isEmpty) df
      else df.select((Seq(c.symbol, c.ts, c.price, c.size) ++ keep).distinct.map(col): _*)
    featuresScan(base, specs, c)
  }

  /** Per-symbol deque scan over ticks in time order: each window keeps
    * its trailing rows in a deque with running cent sums and monotonic
    * min/max deques, so a tick costs O(1) amortized per window. Rows
    * with equal ts see each other (RANGE-frame ties) and leave with
    * the same values. The null-ts rows of a symbol sort first and, as
    * in a RANGE frame, form one frame of their own. Columns are named
    * `rolling_<stat><suffix>`, one suffix per window.
    */
  private def featuresScan(df: DataFrame, specs: Seq[(String, Long)], c: TradingCols): DataFrame = {
    val input = df.select(col("*"), unix_micros(col(c.ts)).as("__uts"))
    val kept = df.schema.fields
    val nK = kept.length
    val utsIdx = nK
    val priceIdx = df.schema.fieldIndex(c.price)
    val sizeIdx = df.schema.fieldIndex(c.size)
    val out = StructType(kept.toSeq ++ specs.flatMap { case (sfx, _) =>
      Seq(
        StructField(s"rolling_vwap$sfx", DoubleType, nullable = true),
        StructField(s"rolling_mean_price$sfx", DoubleType, nullable = true),
        StructField(s"rolling_min$sfx", DoubleType, nullable = true),
        StructField(s"rolling_max$sfx", DoubleType, nullable = true),
        StructField(s"rolling_n$sfx", LongType, nullable = false),
      )
    })
    val ms = specs.map(_._2).toArray
    KeyedScan(input, Seq(col(c.symbol)), Seq(col("__uts")), out, keyOut = Seq(c.symbol)) { () =>
      new ScanKernel {
        private val nW = ms.length
        private val q = Array.fill(nW)(new java.util.ArrayDeque[(Long, Double, Long)]()) // (uts, price, size)
        private val minQ = Array.fill(nW)(new java.util.ArrayDeque[(Long, Double)]())
        private val maxQ = Array.fill(nW)(new java.util.ArrayDeque[(Long, Double)]())
        // exact integer accumulation: cents = round(price*100) is an
        // exact Long for 2-decimal prices, so add/evict cannot drift
        private val sumPS, sumP, sumS, nn = new Array[Long](nW)
        // the rows of the current equal-ts group, emitted when it ends
        private val group = new java.util.ArrayList[InternalRow]()
        private var groupNull = false
        private var groupUts = 0L

        def reset(k: InternalRow): Unit = { clear(); group.clear() }

        private def clear(): Unit = {
          var k = 0
          while (k < nW) {
            q(k).clear(); minQ(k).clear(); maxQ(k).clear()
            sumPS(k) = 0L; sumP(k) = 0L; sumS(k) = 0L; nn(k) = 0L
            k += 1
          }
        }

        private def add(uts: Long, p: Double, s: Long): Unit = {
          val cents = math.round(p * 100)
          var k = 0
          while (k < nW) {
            q(k).addLast((uts, p, s))
            sumPS(k) += cents * s; sumP(k) += cents; sumS(k) += s; nn(k) += 1
            while (!minQ(k).isEmpty && minQ(k).peekLast()._2 > p) minQ(k).removeLast()
            minQ(k).addLast((uts, p))
            while (!maxQ(k).isEmpty && maxQ(k).peekLast()._2 < p) maxQ(k).removeLast()
            maxQ(k).addLast((uts, p))
            k += 1
          }
        }

        private def evict(nowUts: Long): Unit = {
          var k = 0
          while (k < nW) {
            while (!q(k).isEmpty && q(k).peekFirst()._1 < nowUts - ms(k)) {
              val (u, p, s) = q(k).removeFirst()
              val cents = math.round(p * 100)
              sumPS(k) -= cents * s; sumP(k) -= cents; sumS(k) -= s; nn(k) -= 1
              if (!minQ(k).isEmpty && minQ(k).peekFirst()._1 == u && minQ(k).peekFirst()._2 == p)
                minQ(k).removeFirst()
              if (!maxQ(k).isEmpty && maxQ(k).peekFirst()._1 == u && maxQ(k).peekFirst()._2 == p)
                maxQ(k).removeFirst()
            }
            k += 1
          }
        }

        private def emitGroup(o: ScanOut): Unit = if (!group.isEmpty) {
          if (!groupNull) evict(groupUts)
          var r = 0
          while (r < group.size) {
            val row = group.get(r)
            val w = o.begin()
            var i = 0
            while (i < nK) { o.copy(i, row, i, kept(i).dataType); i += 1 }
            var k = 0
            while (k < nW) {
              val at = nK + 5 * k
              w.write(at, sumPS(k).toDouble / sumS(k) / 100.0)
              w.write(at + 1, sumP(k).toDouble / nn(k) / 100.0)
              w.write(at + 2, minQ(k).peekFirst()._2)
              w.write(at + 3, maxQ(k).peekFirst()._2)
              w.write(at + 4, nn(k))
              k += 1
            }
            o.emit()
            r += 1
          }
          group.clear()
        }

        def step(row: InternalRow, o: ScanOut): Unit = {
          if (row.isNullAt(priceIdx) || row.isNullAt(sizeIdx))
            throw new IllegalArgumentException(s"rolling features need a ${c.price} and a ${c.size} on every tick")
          val isNull = row.isNullAt(utsIdx)
          val uts = if (isNull) 0L else row.getLong(utsIdx)
          if (group.isEmpty || isNull != groupNull || uts != groupUts) {
            emitGroup(o)
            // the null-ts frame is its own: the first timed tick starts afresh
            if (groupNull && !isNull) clear()
            groupNull = isNull; groupUts = uts
          }
          add(uts, row.getDouble(priceIdx), row.getLong(sizeIdx))
          group.add(row.copy())
        }

        def flush(o: ScanOut): Unit = emitGroup(o)
      }
    }
  }

  private[graft] def windowMicros(window: String): Long = {
    val parts = window.trim.split("\\s+")
    require(parts.length == 2, s"window must be '<n> <unit>', got $window")
    val n = parts(0).toLong
    val perUnit = parts(1).toLowerCase match {
      case u if u.startsWith("second") => 1000000L
      case u if u.startsWith("minute") => 60000000L
      case u if u.startsWith("hour")   => 3600000000L
      case u if u.startsWith("day")    => 86400000000L
      case u => throw new IllegalArgumentException(s"unsupported unit $u")
    }
    n * perUnit
  }
}

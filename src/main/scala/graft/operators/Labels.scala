package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.TradingCols
import graft.functions.Ewm

/** Financial ML labels (AFML-style), re-expressed as Spark plans.
  *
  * Covers the reference's labels module:
  *  - fixed_time_return[,_classification]
  *    (/root/reference/polars_trading/labels/labels.py:70,30)
  *  - daily_vol (dynamic_labels.py:14)
  *  - get_vertical_barrier_by_timedelta (dynamic_labels.py:89)
  *  - triple-barrier labeling (dynamic_labels.py:173 — left
  *    unfinished in the reference; completed here per AFML pg.45 and
  *    the reference's own pandas oracle _testing/labels.py:27).
  */
object Labels {

  /** Division with null (not ANSI abort / inf) on a zero denominator.
    * Degenerate-price policy: the canonical trades view already drops
    * zero-price ticks, but the operators must not abort a 100 TB job
    * if one slips through — a return against a zero price is undefined
    * and propagates as null, same as an incomplete forward window.
    */
  private[graft] def safeDiv(num: Column, den: Column): Column =
    num / nullif(den, lit(0))

  /** Single-frame parity (reference labels take `symbol: IntoExpr |
    * None`, labels.py:35): a frame without the symbol column is one
    * instrument — run under a constant key, drop it on the way out.
    */
  private def singleFrame(df: DataFrame, c: TradingCols)(f: DataFrame => DataFrame): DataFrame =
    if (df.columns.contains(c.symbol)) f(df)
    else f(df.withColumn(c.symbol, lit("__single"))).drop(c.symbol)

  /** Time ordering with the tradeId tiebreak when present (synthetic
    * single-column frames may carry only ts+price).
    */
  private def timeOrd(df: DataFrame, c: TradingCols): Seq[Column] =
    if (df.columns.contains(c.tradeId)) Seq(col(c.ts), col(c.tradeId)) else Seq(col(c.ts))

  /** Forward return: price[t+offset+window] / price[t+offset] - 1
    * per symbol in time order (labels.py:96).
    */
  def fixedTimeReturn(
      df: DataFrame,
      window: Int,
      offset: Int = 1,
      c: TradingCols = TradingCols.default,
      outCol: String = "fwd_return",
  ): DataFrame = singleFrame(df, c) { d =>
    val w = Window.partitionBy(col(c.symbol)).orderBy(timeOrd(d, c): _*)
    d.withColumn(
      outCol,
      safeDiv(lead(col(c.price), offset + window).over(w), lead(col(c.price), offset).over(w)) - 1,
    )
  }

  /** Classify values by sign or by ±threshold into {-1, 0, 1}
    * (labels.py:15 `_classify_by_threshold`). Null-safe: null values
    * (incomplete forward windows) stay null.
    */
  def classifyByThreshold(values: Column, threshold: Option[Column]): Column =
    (threshold match {
      case None => signum(values)
      case Some(t) =>
        when(values > abs(t), 1)
          .when(values < -abs(t), -1)
          .when(values.between(-abs(t), abs(t)), 0)
          .otherwise(lit(null))
    }).cast("int")

  /** fixed_time_return + threshold classification (labels.py:30). */
  def fixedTimeReturnClassification(
      df: DataFrame,
      window: Int,
      threshold: Option[Column] = None,
      offset: Int = 1,
      c: TradingCols = TradingCols.default,
      outCol: String = "label",
  ): DataFrame = {
    val withRet = fixedTimeReturn(df, window, offset, c, "__ret")
    withRet
      .withColumn(outCol, classifyByThreshold(col("__ret"), threshold))
      .drop("__ret")
  }

  /** 24h-lookback returns (the inner step of daily_vol,
    * dynamic_labels.py:49-61): for each tick, the as-of price at
    * ts - lookback, and the simple return against it.
    * Output: symbol, ts, price, lookback_price, return24h (null when
    * no tick precedes the lookback point).
    */
  def returns24h(
      df: DataFrame,
      lookback: String = "24 hours",
      c: TradingCols = TradingCols.default,
  ): DataFrame = singleFrame(df, c) { df =>
    val left = df.select(
      col(c.symbol),
      col(c.ts),
      col(c.price),
      (col(c.ts) - expr(s"INTERVAL $lookback")).as("__lookback"),
    )
    val right = df.select(
      col(c.symbol),
      col(c.ts).as("__rts"),
      col(c.price).as("lookback_price"),
    )
    AsofJoin
      .asofNative(left, right, leftOn = "__lookback", rightOn = "__rts", by = Seq(c.symbol))
      .withColumn("return24h", safeDiv(col(c.price), col("lookback_price")) - 1)
      .drop("__lookback")
  }

  /** Daily volatility (dynamic_labels.py:14): EWM std (span) of the
    * 24h-lookback returns, per symbol (a frame without the symbol
    * column is one instrument).
    * Output: symbol, ts, daily_return_volatility (one row per tick;
    * null for a null-ts tick, which no other tick sees).
    */
  def dailyVol(
      df: DataFrame,
      span: Int = 100,
      c: TradingCols = TradingCols.default,
  ): DataFrame = singleFrame(df, c)(dailyVolScan(_, span, c))

  /** Daily-vol scan: one hash exchange on symbol, one in-partition
    * sort, one streaming pass that resolves the 24h as-of lookback
    * from a trailing ring buffer (the last 24h of ticks per symbol)
    * and folds the return straight into the EWM std recurrence — no
    * joins, no barriers, no second pass. Per-row arithmetic is
    * identical to returns24h + Ewm.stdOverKey: the lookback row is the
    * last tick with rts <= ts-24h (inclusive), x = price/lookback - 1
    * via the same IEEE ops, and the recurrence is the same
    * [[graft.functions.EwmStd]].
    *
    * Parallelism is per symbol: one core consumes a symbol's stream
    * (~1-2M ticks/s), so the densest symbol's history bounds the wall
    * time.
    */
  private def dailyVolScan(df: DataFrame, span: Int, c: TradingCols): DataFrame = {
    require(span >= 1, "span must be >= 1")
    val input = df.select(col(c.symbol), col(c.ts), col(c.price))
    val symType = input.schema(0).dataType
    val tsType = input.schema(1).dataType
    val out = StructType(Seq(input.schema(0), input.schema(1),
      StructField("daily_return_volatility", DoubleType, nullable = true)))
    val dayMicros = 24L * 3600L * 1000000L
    // price as the equal-ts tiebreak (nulls first): rows with equal
    // (ts, price) are interchangeable for both the lookback and the
    // EWM fold, so this order is value-deterministic.
    graft.plans.KeyedScan(input, Seq(col(c.symbol)), Seq(col(c.ts), col(c.price)), out,
        keyOut = Seq(c.symbol)) { () =>
      new graft.plans.ScanKernel {
        private var key: InternalRow = null
        // trailing 24h of (ts micros, price-or-null); head is the
        // current as-of candidate once its successor passes the target
        private val ring = new java.util.ArrayDeque[(Long, Any)]()
        private val ewm = new graft.functions.EwmStd(span)

        def reset(k: InternalRow): Unit = { key = k; ring.clear(); ewm.reset() }

        def step(row: InternalRow, o: graft.plans.ScanOut): Unit = {
          val w = o.begin()
          o.copy(0, key, 0, symType)
          o.copy(1, row, 1, tsType)
          // a null-ts tick has no lookback point and no place in the EWM
          // order: it emits null and leaves the ring and the sums as they are
          if (row.isNullAt(1)) w.setNullAt(2)
          else {
            val ts = row.getLong(1) // micros, TIMESTAMP or TIMESTAMP_NTZ
            val target = ts - dayMicros
            while (ring.size > 1 && { val i = ring.iterator; i.next(); i.next()._1 <= target })
              ring.pollFirst()
            val lb: Any =
              if (!ring.isEmpty && ring.peekFirst()._1 <= target) ring.peekFirst()._2 else null
            val px: Any = if (row.isNullAt(2)) null else row.getDouble(2)
            ring.addLast((ts, px))
            if (px == null || lb == null || lb.asInstanceOf[Double] == 0.0) { ewm.skip(); w.setNullAt(2) }
            else w.write(2, ewm.add(px.asInstanceOf[Double] / lb.asInstanceOf[Double] - 1))
          }
          o.emit()
        }

        def flush(o: graft.plans.ScanOut): Unit = ()
      }
    }
  }

  /** Vertical barrier (dynamic_labels.py:89): first observed
    * timestamp >= ts + offset, per symbol (inclusive forward as-of).
    * Output: symbol, ts, vertical_barrier (null when none follows).
    */
  def verticalBarrier(
      df: DataFrame,
      offset: String = "24 hours",
      c: TradingCols = TradingCols.default,
  ): DataFrame = singleFrame(df, c) { df =>
    val left = df.select(
      col(c.symbol),
      col(c.ts),
      (col(c.ts) + expr(s"INTERVAL $offset")).as("__off"),
    )
    val right = df.select(col(c.symbol), col(c.ts).as("__rts"), col(c.ts).as("vertical_barrier"))
    AsofJoin
      .asofNative(
        left,
        right,
        leftOn = "__off",
        rightOn = "__rts",
        by = Seq(c.symbol),
        direction = AsofJoin.Forward,
      )
      .select(col(c.symbol), col(c.ts), col("vertical_barrier"))
  }

  /** Barrier touch timestamps per event (the reference's intended
    * `apply_profit_taking_stop_loss` / AFML `apply_pt_sl_on_t1`,
    * _testing/labels.py:27): for each tick, the earliest path tick
    * whose return crosses +pt / -sl within the horizon, plus the
    * capped vertical barrier. tripleBarrier derives its label from
    * exactly these.
    */
  def barrierTouches(
      df: DataFrame,
      horizon: String = "24 hours",
      ptMult: Double = 1.0,
      slMult: Double = 1.0,
      constTarget: Option[Double] = None,
      volSpan: Int = 100,
      c: TradingCols = TradingCols.default,
  ): DataFrame = singleFrame(df, c) { df =>
    tripleBarrierCoreScan(df, horizon, ptMult, slMult, volSpan, constTarget, c, TouchCols)
  }

  /** Triple-barrier label (AFML pg.45; completes the reference's
    * stub). For each event (tick) with volatility target `trgt`:
    *  - upper barrier: +ptMult * trgt, lower: -slMult * trgt on the
    *    path return price_u/price_t - 1 for t < u <= t1,
    *  - vertical barrier t1 = ts + horizon (capped at the symbol's
    *    last tick).
    * Emits the first barrier touched, its timestamp, the realized
    * return at the touch, and the label (1 profit-take, -1 stop-loss,
    * 0/sign vertical).
    *
    * Scale: the event×path join is bucketed by horizon-sized time
    * buckets — each event joins only its own and the next bucket, so
    * fan-out is bounded by path length, never n² per symbol.
    */
  def tripleBarrier(
      df: DataFrame,
      horizon: String = "24 hours",
      ptMult: Double = 1.0,
      slMult: Double = 1.0,
      volSpan: Int = 100,
      /** Some(x): constant volatility target x (SQL-oracle-able);
        * None: EWM daily_vol target (reference behavior). */
      constTarget: Option[Double] = None,
      signOnVertical: Boolean = false,
      c: TradingCols = TradingCols.default,
  ): DataFrame = singleFrame(df, c) { df =>
    tripleBarrierCoreScan(df, horizon, ptMult, slMult, volSpan, constTarget, c, LabelCols(signOnVertical))
  }

  /** A `"<n> <unit>"` horizon (hours, minutes, days or seconds) in
    * microseconds.
    */
  private[graft] def parseHorizonMicros(horizon: String): Long = {
    val parts = horizon.split("\\s+")
    val n = parts(0).toLong
    val unit = parts(1).toLowerCase
    val perUnit = unit match {
      case u if u.startsWith("hour")   => 3600000000L
      case u if u.startsWith("minute") => 60000000L
      case u if u.startsWith("day")    => 86400000000L
      case u if u.startsWith("second") => 1000000L
      case _ => throw new IllegalArgumentException(s"unsupported horizon unit: $unit")
    }
    n * perUnit
  }

  /** The columns the barrier scan emits per event. */
  private[graft] sealed trait BarrierCols
  /** symbol, ts, price, trgt, t1, pt_ts, sl_ts, __pt_ret, __sl_ret, __v_ret */
  private[graft] case object CoreCols extends BarrierCols
  /** barrierTouches: symbol, ts, trgt, t1, pt_ts, sl_ts */
  private case object TouchCols extends BarrierCols
  /** tripleBarrier: symbol, ts, trgt, t1, touch_ts, touch_return, label */
  private final case class LabelCols(signOnVertical: Boolean) extends BarrierCols

  /** The event×path crossing aggregation behind barrierTouches and
    * tripleBarrier — per event, the earliest pt/sl crossing ticks and
    * realized returns plus the vertical-barrier return: a
    * day-chunked halo scan with per-chunk SEGMENT-TREE crossing
    * search, O((n + q)·log n) per chunk instead of the interval
    * join's O(n × ticks-per-horizon) pair materialization — the pair
    * count grows with tick DENSITY (at 100 TB a liquid symbol has
    * 10^5+ ticks per horizon window, a 10^5× row blow-up the join
    * form shuffles and hash-aggregates; the scan shuffles each tick
    * ~twice: once to its own day chunk, once as the previous day's
    * halo).
    *
    * First, one keyed scan per symbol in time order caps each tick's
    * vertical barrier at the symbol's last tick (it holds a tick only
    * until a later one reaches ts + horizon) and writes the tick's
    * home-chunk row and halo copies: no last-ts aggregate, no join.
    *
    * Per chunk: ticks sorted by (ts, trade_id); max/min segment trees
    * over price; each event binary-searches its (ts, t1] range and
    * descends leftmost-true for the first pt/sl crossing. Valid
    * because return = p/p0 − 1 is monotone in p under IEEE rounding
    * (p0 > 0), so "subtree max crosses up / subtree min crosses down"
    * exactly characterizes "some tick in the subtree crosses" — the
    * found tick evaluates the identical double predicate the join
    * form evaluates per pair, and the emitted returns are the same
    * pu/p0 − 1 expression tree, so the result is BIT-identical to
    * the interval-join form (a bucketed [[RangeJoin.intervalJoin]] of
    * events × path ticks, then min/min_by/max_by per event — kept as
    * the test-scope reference and pinned in CoreOperatorsSpec and
    * PropertySpec) and the DuckDB oracles are unchanged.
    *
    * Ties: (symbol, ts) is unique in the canonical trades view
    * (duplicate-ts events would make the join form's min_by/max_by
    * pick an arbitrary same-timestamp crossing; the scan picks the
    * (ts, trade_id)-first one — a superset of the join form's
    * guarantee, identical whenever ts is unique).
    */
  private[graft] def tripleBarrierCoreScan(
      df: DataFrame,
      horizon: String,
      ptMult: Double,
      slMult: Double,
      volSpan: Int,
      constTarget: Option[Double],
      c: TradingCols,
      cols: BarrierCols = CoreCols,
  ): DataFrame = {
    val hUs = parseHorizonMicros(horizon)
    val dayUs = 86400000000L
    val hDays = ((hUs + dayUs - 1) / dayUs).toInt

    val ticks = df.select(col(c.symbol), Bars.typedCol(df, c.ts, TimestampType),
      Bars.typedCol(df, c.price, DoubleType),
      if (df.columns.contains(c.tradeId)) Bars.typedCol(df, c.tradeId, LongType) else lit(0L).as("__tid"))
    val withTarget = constTarget match {
      case Some(_) => ticks
      case None =>
        val vol = dailyVol(df.na.drop(Seq(c.price, c.ts)), volSpan, c)
          .withColumnRenamed("daily_return_volatility", "trgt")
        ticks.join(vol, Seq(c.symbol, c.ts), "left")
    }
    val symType = df.schema(c.symbol).dataType
    // per symbol in time order: each tick's capped vertical barrier
    // t1 = min(ts + horizon, the symbol's last ts), then the tick to its
    // home day chunk (an event there) and, path-only, to every earlier
    // chunk whose horizon reaches it
    val annotated = graft.plans.KeyedScan(withTarget, Seq(col(c.symbol)), Seq(col(c.ts), col(ticks.columns(3))),
      StructType(Seq(StructField("sym", symType), StructField("chunk", LongType), StructField("tsus", LongType),
        StructField("price", DoubleType), StructField("tid", LongType), StructField("trgt", DoubleType),
        StructField("t1us", LongType))), keyOut = Seq("sym")
    ) { () => new BarrierEvents(hUs, hDays, constTarget, symType) }

    val ts = TimestampType
    val out = StructType((cols match {
      case CoreCols => Seq(c.symbol -> symType, c.ts -> ts, c.price -> DoubleType, "trgt" -> DoubleType,
        "t1" -> ts, "pt_ts" -> ts, "sl_ts" -> ts, "__pt_ret" -> DoubleType, "__sl_ret" -> DoubleType,
        "__v_ret" -> DoubleType)
      case TouchCols => Seq(c.symbol -> symType, c.ts -> ts, "trgt" -> DoubleType, "t1" -> ts,
        "pt_ts" -> ts, "sl_ts" -> ts)
      case LabelCols(_) => Seq(c.symbol -> symType, c.ts -> ts, "trgt" -> DoubleType, "t1" -> ts,
        "touch_ts" -> ts, "touch_return" -> DoubleType, "label" -> IntegerType)
    }).map { case (n, t) => StructField(n, t) })
    graft.plans.KeyedScan(annotated, Seq(col("sym"), col("chunk")), Seq(col("tsus"), col("tid")), out,
        keyOut = Seq(c.symbol)) { () =>
      new BarrierScan(ptMult, slMult, symType, cols)
    }
  }

  /** Per symbol of [[tripleBarrierCoreScan]], over (symbol, ts, price,
    * trade_id[, trgt]) rows in time order: holds each tick until its
    * capped vertical barrier is known (a later tick at or past ts +
    * horizon, or the symbol's end), then writes its chunk rows. Ticks
    * with a null ts or a null or NaN price (what `na.drop` drops) are
    * no events and no path.
    */
  private final class BarrierEvents(hUs: Long, hDays: Int, const: Option[Double], symType: DataType)
      extends graft.plans.ScanKernel {
    private val dayUs = 86400000000L
    private var key: InternalRow = null
    private val pending = new java.util.ArrayDeque[(Long, Double, Long, Double)]() // ts, price, tid, trgt
    private var last = 0L

    def reset(k: InternalRow): Unit = key = k

    private def write(o: graft.plans.ScanOut, t: (Long, Double, Long, Double), t1: Long): Unit = {
      val d = t._1 / dayUs
      var k = 0
      while (k <= hDays) {
        val ch = d - k
        if (k == 0 || t._1 < (ch + 1L) * dayUs + hUs) {
          val w = o.begin()
          o.copy(0, key, 0, symType)
          w.write(1, ch); w.write(2, t._1); w.write(3, t._2); w.write(4, t._3)
          // path-only halo copies carry no target
          if (k == 0 && !t._4.isNaN) w.write(5, t._4) else w.setNullAt(5)
          w.write(6, t1)
          o.emit()
        }
        k += 1
      }
    }

    def step(row: InternalRow, o: graft.plans.ScanOut): Unit = if (!row.isNullAt(1) && !Bars.noPrice(row, 2)) {
      last = row.getLong(1)
      val trgt = const.getOrElse(if (row.isNullAt(4)) Double.NaN else row.getDouble(4))
      pending.addLast((last, row.getDouble(2), row.getLong(3), trgt))
      while (!pending.isEmpty && pending.peekFirst()._1 + hUs <= last) {
        val t = pending.pollFirst()
        write(o, t, t._1 + hUs)
      }
    }

    def flush(o: graft.plans.ScanOut): Unit =
      while (!pending.isEmpty) {
        val t = pending.pollFirst()
        write(o, t, math.min(t._1 + hUs, last))
      }
  }

  /** Per (symbol, day chunk) of [[tripleBarrierCoreScan]]: buffers the
    * chunk's (tsus, price, trgt or NaN for path-only rows, t1us) rows,
    * then resolves each event's first crossings and writes `cols`.
    */
  private final class BarrierScan(pt: Double, sl: Double, symType: DataType, cols: BarrierCols)
      extends graft.plans.ScanKernel {
    private var key: InternalRow = null
    private val tsA = new scala.collection.mutable.ArrayBuffer[Long]
    private val prA = new scala.collection.mutable.ArrayBuffer[Double]
    private val tgA = new scala.collection.mutable.ArrayBuffer[Double] // NaN = not an event
    private val t1A = new scala.collection.mutable.ArrayBuffer[Long]

    def reset(k: InternalRow): Unit = key = k

    def step(row: InternalRow, o: graft.plans.ScanOut): Unit = {
      tsA += row.getLong(2)
      prA += row.getDouble(3)
      tgA += (if (row.isNullAt(5)) Double.NaN else row.getDouble(5))
      t1A += row.getLong(6)
    }

    /** One event's result; a crossing index of -1 means none, and a
      * zero event price leaves every return null.
      */
    private def write(o: graft.plans.ScanOut, i: Int, trgt: Double, kp: Int, ks: Int, hi: Int,
        pr: Array[Double], ts: Array[Long], t1: Array[Long]): Unit = {
      val w = o.begin()
      val p0 = pr(i)
      val rets = p0 != 0.0
      def ts_(ord: Int, k: Int): Unit = if (k >= 0) w.write(ord, ts(k)) else w.setNullAt(ord)
      def ret(ord: Int, k: Int): Unit = if (rets && k >= 0) w.write(ord, pr(k) / p0 - 1.0) else w.setNullAt(ord)
      o.copy(0, key, 0, symType)
      w.write(1, ts(i))
      cols match {
        case CoreCols =>
          w.write(2, p0); w.write(3, trgt); w.write(4, t1(i))
          ts_(5, kp); ts_(6, ks); ret(7, kp); ret(8, ks); ret(9, hi)
        case TouchCols =>
          w.write(2, trgt); w.write(3, t1(i)); ts_(4, kp); ts_(5, ks)
        case LabelCols(signOnVertical) =>
          w.write(2, trgt); w.write(3, t1(i))
          val ptFirst = kp >= 0 && (ks < 0 || ts(kp) <= ts(ks))
          val slFirst = ks >= 0 && !ptFirst
          val touch = if (ptFirst) kp else if (slFirst) ks else -1
          if (touch >= 0) w.write(4, ts(touch)) else w.write(4, t1(i))
          ret(5, if (touch >= 0) touch else hi)
          if (ptFirst) w.write(6, 1)
          else if (slFirst) w.write(6, -1)
          else if (!signOnVertical) w.write(6, 0)
          else if (rets) w.write(6, math.signum(pr(hi) / p0 - 1.0).toInt)
          else w.setNullAt(6)
      }
      o.emit()
    }

    def flush(o: graft.plans.ScanOut): Unit = {
      val n = tsA.length
      val ts = tsA.toArray
      val pr = prA.toArray
      val tg = tgA.toArray
      val t1 = t1A.toArray
      tsA.clear(); prA.clear(); tgA.clear(); t1A.clear()
      var sz = 1
      while (sz < n) sz <<= 1
      val mx = Array.fill(2 * sz)(Double.NegativeInfinity)
      val mn = Array.fill(2 * sz)(Double.PositiveInfinity)
      var i = 0
      while (i < n) {
        // a NaN price must never enable a crossing (NaN comparisons
        // are false in the join core) and must not poison subtree
        // aggregates (math.max(NaN, x) = NaN would false-prune whole
        // ranges): map it to the never-crossing sentinel in each tree
        val pv = pr(i)
        mx(sz + i) = if (java.lang.Double.isNaN(pv)) Double.NegativeInfinity else pv
        mn(sz + i) = if (java.lang.Double.isNaN(pv)) Double.PositiveInfinity else pv
        i += 1
      }
      i = sz - 1
      while (i >= 1) {
        mx(i) = math.max(mx(2 * i), mx(2 * i + 1))
        mn(i) = math.min(mn(2 * i), mn(2 * i + 1))
        i -= 1
      }
      // first index with ts > x
      def upperBound(x: Long): Int = {
        var lo = 0
        var hi = n
        while (lo < hi) {
          val m = (lo + hi) >>> 1
          if (ts(m) <= x) lo = m + 1 else hi = m
        }
        lo
      }
      // leftmost index in [l, r] whose price satisfies pred,
      // pruned by subtree max (crossing up) or min (crossing down)
      def leftmost(l: Int, r: Int, useMax: Boolean, pred: Double => Boolean): Int = {
        def go(node: Int, nl: Int, nr: Int): Int = {
          if (nr < l || nl > r) return -1
          if (!pred(if (useMax) mx(node) else mn(node))) return -1
          if (nl == nr) return nl
          val m = (nl + nr) >>> 1
          val lf = go(2 * node, nl, m)
          if (lf >= 0) lf else go(2 * node + 1, m + 1, nr)
        }
        go(1, 0, sz - 1)
      }
      var lastTsSeen = Long.MinValue
      val seenPrices = new java.util.HashSet[java.lang.Double]()
      i = 0
      while (i < n) {
        val t = tg(i)
        if (!java.lang.Double.isNaN(t) && t > 0.0) {
          // the join core groups by (symbol, ts, price, trgt, t1):
          // duplicate event keys collapse to one output row
          if (ts(i) != lastTsSeen) { lastTsSeen = ts(i); seenPrices.clear() }
          if (seenPrices.add(pr(i))) {
            val lo = upperBound(ts(i))
            val hi = upperBound(t1(i)) - 1
            if (lo <= hi) { // events with an empty (ts, t1] path drop out (inner join)
              val p0 = pr(i)
              val thrP = t * pt
              val thrS = (-t) * sl
              // the tree descent's pruning is only valid when p/p0 − 1
              // is monotone NON-DECREASING in p, i.e. p0 > 0 (the data
              // policy); a negative or NaN p0 falls back to the exact
              // linear scan, which evaluates the same per-pair
              // predicates the join core does (NaN comparisons are
              // false); a zero p0 makes every pair return null
              var kp = -1
              var ks = -1
              if (p0 > 0.0) {
                kp = leftmost(lo, hi, useMax = true, p => (p / p0 - 1.0) >= thrP)
                ks = leftmost(lo, hi, useMax = false, p => (p / p0 - 1.0) <= thrS)
              } else if (p0 != 0.0) {
                var k = lo
                while (k <= hi && (kp < 0 || ks < 0)) {
                  val r = pr(k) / p0 - 1.0
                  if (kp < 0 && r >= thrP) kp = k
                  if (ks < 0 && r <= thrS) ks = k
                  k += 1
                }
              }
              write(o, i, t, kp, ks, hi, pr, ts, t1)
            }
          }
        }
        i += 1
      }
    }
  }

  /** AFML ch.3.6 meta-labeling: given a primary model's side (+1/-1)
    * per event, the meta-label is 1 when acting on that side would
    * have been profitable at the triple-barrier's first touch —
    * turning the secondary model into a bet-sizing filter. Pure
    * composition: triple-barrier output × side frame, one join.
    *
    * @param tb    tripleBarrier output (symbol, ts, touch_return, ...)
    * @param sides (symbol, ts, side) from the primary model
    */
  def metaLabel(
      tb: DataFrame,
      sides: DataFrame,
      c: TradingCols = TradingCols.default,
  ): DataFrame =
    tb.join(sides, Seq(c.symbol, c.ts))
      .withColumn(
        "meta_label",
        (col("side") * col("touch_return") > 0).cast("int"),
      )

  /** AFML ch.4.2 average-uniqueness sample weights: overlapping
    * labels share their ticks, so each event is weighted by the mean
    * of 1/concurrency over the ticks its label spans — de-biasing a
    * training set built from overlapping horizons.
    *
    * Plan shape: the event×tick pairing is the bucketed interval join
    * (fan-out bounded by horizon/bucket, the same machinery as the
    * barrier operators); concurrency is one count per covered tick;
    * the per-event mean folds 1/c in (ts, trade_id) order via a
    * sorted-array aggregate — sequential fold, so the double sum is
    * order-pinned and engine-exact (a plain SUM would drift with
    * aggregation order). Memory per event = its interval's tick
    * count; at 100 TB keep horizons bounded (they are label
    * horizons) or pre-aggregate per (event, day).
    *
    * @param events (symbol, t0, t1, event_id)
    */
  /** Return-attribution sample weights (AFML ch.4.10 snippet 4.10):
    * per event, |Σ_t ret_t / c_t| over the ticks of its lifespan,
    * where ret_t = ln(p_t / p_{t-1}) (per symbol, tick-over-tick) and
    * c_t = the number of concurrent events at tick t — events whose
    * information content is diluted by overlap weigh less, scaled by
    * the magnitude of the return they can claim.
    *
    * Same bucketed interval-join machinery as [[uniquenessWeights]];
    * the per-event Σ ret/c folds in (ts, trade_id) order (a parallel
    * double SUM would drift with partitioning; the ordered fold is
    * bit-stable and the oracle replays it with an ordered
    * list_reduce). Normalization to mean 1 (the reference's final
    * `* N / Σw` step) is the caller's: it is a two-value global
    * reduction whose float order the caller controls.
    */
  /** Shared scan core behind [[uniquenessWeights]] and
    * [[returnAttribution]]: per event, the ordered fold of
    * value/concurrency over the ticks its [t0, t1] interval covers —
    * WITHOUT materializing event×tick pairs. The pair form shuffles
    * O(q × ticks-per-interval) rows (quadratic in tick density:
    * measured 212-330 s at 100× density, §6e); this scan ships each
    * tick to its (symbol, day) chunk once and each event to the ≤
    * 1+interval/day chunks it touches, computes per-tick concurrency
    * by two binary searches over the chunk's event boundary arrays
    * (c_u = #{t0 ≤ u} − #{t1 < u}), folds each event's in-chunk tick
    * range in (ts, trade_id) order in compiled code, and emits ONE
    * partial row per (event, chunk).
    *
    * Fold tree contract: total = left-fold over per-chunk partials in
    * chunk order, each partial a left-fold from 0.0. For an event
    * whose interval sits inside one day (the common case) this is
    * BIT-identical to the flat pair-form fold (0.0 + p == p for the
    * p ≥ 0.0 / p ≠ -0.0 terms these operators produce); straddlers
    * get the regrouped tree, which the DuckDB oracles replay exactly
    * (per-chunk ordered list_reduce, then a chunk-ordered
    * list_reduce of partials).
    *
    * @param ticks  (symbol: string, tsus: long, tid: long, v: double)
    * @param events (symbol: string, t0us: long, t1us: long, event_id: long)
    * @return (symbol, event_id, `name`: finish(chunk-folded Σ v/c, n_ticks), n_ticks)
    */
  private def intervalConcFold(ticks: DataFrame, events: DataFrame, name: String)(
      finish: (Double, Long) => Double
  ): DataFrame = {
    val dayUs = 86400000000L
    // kind 0 = event (a = t0us, b = t1us, id = event_id, v unused)
    // kind 1 = tick  (a = tsus,  b = 0,    id = trade_id, v = value)
    val evRows = events
      .where(col("t1us") >= col("t0us"))
      .select(
        col("symbol"),
        explode(sequence(expr(s"t0us div ${dayUs}L"), expr(s"t1us div ${dayUs}L"))).as("chunk"),
        lit(0).as("kind"),
        col("t0us").as("a"),
        col("t1us").as("b"),
        col("event_id").cast("long").as("id"),
        lit(0.0).as("v"),
      )
    val tkRows = ticks.select(
      col("symbol"),
      expr(s"tsus div ${dayUs}L").as("chunk"),
      lit(1).as("kind"),
      col("tsus").as("a"),
      lit(0L).as("b"),
      col("tid").as("id"),
      col("v"),
    )
    val rows = evRows.unionByName(tkRows)
    val symType = rows.schema(0).dataType
    val partials = graft.plans.KeyedScan(rows, Seq(col("symbol"), col("chunk")),
      Seq(col("kind"), col("a"), col("id")),
      StructType(Seq(StructField("symbol", symType), StructField("event_id", LongType),
        StructField("chunk", LongType), StructField("part", DoubleType), StructField("n", LongType))),
      keyOut = Seq("symbol")
    ) { () => new ConcScan(symType) }
    // total = left fold of the partials in chunk order, from 0.0
    graft.plans.KeyedScan(partials, Seq(col("symbol"), col("event_id")), Seq(col("chunk")),
      StructType(Seq(StructField("symbol", symType), StructField("event_id", LongType),
        StructField(name, DoubleType), StructField("n_ticks", LongType))),
      keyOut = Seq("symbol", "event_id")
    ) { () =>
      new graft.plans.ScanKernel {
        private var key: InternalRow = null
        private var acc = 0.0
        private var n = 0L
        def reset(k: InternalRow): Unit = { key = k; acc = 0.0; n = 0L }
        def step(row: InternalRow, o: graft.plans.ScanOut): Unit = { acc += row.getDouble(3); n += row.getLong(4) }
        def flush(o: graft.plans.ScanOut): Unit = {
          val w = o.begin()
          o.copy(0, key, 0, symType); o.copy(1, key, 1, LongType)
          w.write(2, finish(acc, n)); w.write(3, n)
          o.emit()
        }
      }
    }
  }

  /** Per (symbol, day chunk) of [[intervalConcFold]]: buffers the
    * chunk's events (t0 ascending) and ticks, then emits one partial
    * (symbol, event_id, chunk, Σ v/c, ticks) per event that covers a tick.
    */
  private final class ConcScan(symType: DataType) extends graft.plans.ScanKernel {
    private var key: InternalRow = null
    private val e0 = new scala.collection.mutable.ArrayBuffer[Long] // t0, sorted (arrival order)
    private val e1 = new scala.collection.mutable.ArrayBuffer[Long] // t1, arrival order
    private val eid = new scala.collection.mutable.ArrayBuffer[Long]
    private val ts = new scala.collection.mutable.ArrayBuffer[Long]
    private val tv = new scala.collection.mutable.ArrayBuffer[Double]

    def reset(k: InternalRow): Unit = key = k

    def step(row: InternalRow, o: graft.plans.ScanOut): Unit =
      if (row.getInt(2) == 0) { e0 += row.getLong(3); e1 += row.getLong(4); eid += row.getLong(5) }
      else { ts += row.getLong(3); tv += row.getDouble(6) }

    // number of entries of sorted `arr` that are <= x (or < x)
    private def count(arr: Array[Long], x: Long, inclusive: Boolean): Int = {
      var lo = 0
      var hi = arr.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (arr(m) < x || inclusive && arr(m) == x) lo = m + 1 else hi = m
      }
      lo
    }

    def flush(o: graft.plans.ScanOut): Unit = {
      val q = e0.length
      val n = ts.length
      if (q > 0 && n > 0) {
        val t0s = e0.toArray // already ascending (sort key (kind, a, id))
        val t1arr = e1.toArray
        val t1s = t1arr.clone()
        java.util.Arrays.sort(t1s)
        val tsA = ts.toArray
        val tvA = tv.toArray
        // c_u = #{t0 <= u} - #{t1 < u}, both by binary search
        val cArr = new Array[Double](n) // concurrency as double divisor
        var j = 0
        while (j < n) {
          cArr(j) = (count(t0s, tsA(j), inclusive = true) - count(t1s, tsA(j), inclusive = false)).toDouble
          j += 1
        }
        var i = 0
        while (i < q) {
          val lo = count(tsA, t0s(i), inclusive = false) // first tick with ts >= t0 (inclusive start)
          val hi = count(tsA, t1arr(i), inclusive = true) - 1 // last tick with ts <= t1
          if (lo <= hi) {
            var acc = 0.0
            var k = lo
            while (k <= hi) {
              acc += tvA(k) / cArr(k)
              k += 1
            }
            val w = o.begin()
            o.copy(0, key, 0, symType)
            w.write(1, eid(i)); w.write(2, key.getLong(1)); w.write(3, acc); w.write(4, (hi - lo + 1).toLong)
            o.emit()
          }
          i += 1
        }
      }
      e0.clear(); e1.clear(); eid.clear(); ts.clear(); tv.clear()
    }
  }

  def returnAttribution(
      trades: DataFrame,
      events: DataFrame,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    val w = Window.partitionBy(col(c.symbol)).orderBy(col(c.ts), col(c.tradeId))
    val ticks = trades
      .select(
        col(c.symbol).as("symbol"),
        unix_micros(col(c.ts)).as("tsus"),
        col(c.tradeId).cast("long").as("tid"),
        log(col(c.price) / lag(col(c.price), 1).over(w)).as("v"),
      )
      .where(col("v").isNotNull)
    val ev = events.select(
      col("symbol"),
      unix_micros(col("t0")).as("t0us"),
      unix_micros(col("t1")).as("t1us"),
      col("event_id"),
    )
    intervalConcFold(ticks, ev, "attribution")((s, _) => math.abs(s))
  }

  def uniquenessWeights(
      trades: DataFrame,
      events: DataFrame,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    val ticks = trades.select(
      col(c.symbol).as("symbol"),
      unix_micros(col(c.ts)).as("tsus"),
      col(c.tradeId).cast("long").as("tid"),
      lit(1.0).as("v"),
    )
    val ev = events.select(
      col("symbol"),
      unix_micros(col("t0")).as("t0us"),
      unix_micros(col("t1")).as("t1us"),
      col("event_id"),
    )
    intervalConcFold(ticks, ev, "avg_uniqueness")((s, n) => s / n.toDouble)
  }

  /** Time-decay sample weights (AFML ch.4.11): newest information
    * weighs most. Events are ordered by label end t1; x = cumulative
    * average uniqueness up to the event (so decay runs on INFORMATION
    * time, not wall clock); the weight is the line through
    * (x_N, 1) with d(0) = `lastWeight` (for lastWeight >= 0;
    * negative lastWeight zeroes the oldest fraction -lastWeight of
    * information time), clipped at 0.
    *
    * Exactness + scale: the cumulative sum runs over uniqueness
    * QUANTIZED to 1e-9 units (BIGINT headroom: |cumsum| <= n_events
    * x 1e9, safe to ~9e9 events) — a BIGINT cumsum is associative, so
    * the two-phase distributed pattern (range exchange on
    * (t1, event_id) → per-partition window + broadcast prefix
    * offsets; no single-task global window) is bit-identical to any
    * sequential fold, and the oracle replays the identical integers.
    * The decay line over x is the only FP tree, replicated op-for-op.
    */
  def timeDecayWeights(
      trades: DataFrame,
      events: DataFrame,
      lastWeight: Double = 0.5,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    require(lastWeight > -1.0 && lastWeight <= 1.0, "lastWeight in (-1, 1]")
    val spark = trades.sparkSession
    val u = uniquenessWeights(trades, events, c = c)
    val evT1 = events.select(col("event_id"), unix_micros(col("t1")).as("__t1us"))
    val base = u
      .join(evT1, "event_id")
      .withColumn("__uq", round(col("avg_uniqueness") * lit(1e9)).cast("long"))
    val nParts = spark.sparkContext.defaultParallelism
    val ranged = graft.sources.Checkpoint.tableGated(
      base
        .repartitionByRange(nParts, col("__t1us"), col("event_id"))
        .withColumn("__pid", spark_partition_id()),
      "decay_ranked",
    )
    val parts = ranged
      .groupBy(col("__pid"))
      .agg(sum(col("__uq")).as("__s"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val xn = parts.map(_._2).sum
    require(xn > 0, "time decay needs positive total uniqueness")
    val offs = parts
      .scanLeft((0, 0L, 0L)) { case ((_, off, s), (pid, ps)) => (pid, off + s, ps) }
      .tail
      .map { case (pid, off, _) => (pid, off) }
    val offDf = broadcast(spark.createDataFrame(offs.toSeq).toDF("__pid", "__off"))
    val wPart = Window
      .partitionBy(col("__pid"))
      .orderBy(col("__t1us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // decay line from exact integers; FP order fixed: slope first,
    // then const = 1 - slope*xN — the oracle writes the same tree
    val xnD = xn.toDouble / 1e9
    val slope =
      if (lastWeight >= 0) (1.0 - lastWeight) / xnD else 1.0 / ((lastWeight + 1.0) * xnD)
    val const = 1.0 - slope * xnD
    ranged
      .join(offDf, "__pid")
      .withColumn("__x", col("__off") + sum(col("__uq")).over(wPart))
      .select(
        col("symbol"),
        col("event_id"),
        col("avg_uniqueness"),
        greatest(lit(0.0), lit(const) + lit(slope) * (col("__x").cast("double") / lit(1e9)))
          .as("decay_weight"),
      )
  }
}

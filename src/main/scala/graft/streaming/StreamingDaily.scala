package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twins of the per-(symbol, day) microstructure daily
  * estimators, driven by DAY ROLLOVER instead of a watermark: a day's
  * statistic is final the moment the first tick of a LATER day
  * arrives for that symbol, so append-mode emission is exactly-once
  * and state is O(1) per symbol (the open day's accumulators plus
  * one completed-day carry). The last open day stays in state — the
  * batch operators emit it, so streaming == batch on all days except
  * each symbol's last (pinned in ScalaTest).
  *
  *  - [[corwinSchultz]]: state = open-day (high, low) cents + the
  *    previous day's pair; emits the Corwin-Schultz spread row with
  *    the identical double tree as the batch operator.
  *  - [[signEntropy]]: the u/d alphabet means at most 2+4+8 distinct
  *    k-grams for k = 1..3 — state is 14 integer counters plus the
  *    last (k-1) signs; entropy folds the counters in ascending gram
  *    order, the batch sorted-fold's order.
  *
  * Realized vol has no twin: `Microstructure.realizedVol` is one keyed
  * scan per symbol whose kernel closes a day on rollover, so it runs
  * on a stream itself with the same emission.
  *
  * Ordered-arrival contract: day rollover only works if micro-batch
  * N+1's ticks are event-time ≥ batch N's per symbol (unwatermarked
  * state, like [[StatefulBars]] — see its header note). A tick for an
  * already-emitted day is folded into the OPEN day and silently skews
  * that day's statistic.
  */
object StreamingDaily {

  final case class Tick(symbol: String, ts: Timestamp, price: Double, trade_id: Long)

  // ---- Corwin-Schultz ----

  final case class CsState(
      day: String, // open day (ISO date)
      hc: Long,
      lc: Long,
      havePrev: Boolean,
      prevH: Long,
      prevL: Long,
  )

  final case class CsRow(
      symbol: String,
      date: String,
      beta: Double,
      gamma: Double,
      alpha: Double,
      spread: Double,
      spread_pos: Double,
  )

  def corwinSchultz(trades: DataFrame): Dataset[CsRow] = {
    val spark = trades.sparkSession
    import spark.implicits._
    ticks(trades)
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(processCs)
  }

  private def dayOf(ts: Timestamp): String =
    // UTC explicitly: the batch operators' to_date runs under the
    // UTC session timezone; the executor JVM default must not leak in
    ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

  // StrictMath.log/exp, NOT math.log/exp: Catalyst's Log/Exp
  // expressions evaluate via StrictMath, and Math's intrinsics can
  // differ in the last ulp — measured as 28 bit-unequal days before
  // the switch. sqrt is IEEE-exact either way.
  private def csRow(symbol: String, date: String, hc: Long, lc: Long, hp: Long, lp: Long): CsRow = {
    val k = 3.0 - 2.0 * math.sqrt(2.0)
    val r0 = StrictMath.log(hc.toDouble / lc.toDouble)
    val r1 = StrictMath.log(hp.toDouble / lp.toDouble)
    val beta = r0 * r0 + r1 * r1
    val rg = StrictMath.log(math.max(hc, hp).toDouble / math.min(lc, lp).toDouble)
    val gamma = rg * rg
    val alpha = (math.sqrt(2.0 * beta) - math.sqrt(beta)) / k - math.sqrt(gamma / k)
    val spread = 2.0 * (StrictMath.exp(alpha) - 1.0) / (1.0 + StrictMath.exp(alpha))
    CsRow(symbol, date, beta, gamma, alpha, spread, math.max(spread, 0.0))
  }

  private def processCs(
      symbol: String,
      rows: Iterator[Tick],
      state: GroupState[CsState],
  ): Iterator[CsRow] = {
    val sorted = rows.toSeq.sortBy(t => (StatefulBars.tsMicros(t.ts), t.trade_id))
    var st = state.getOption.orNull
    val out = Seq.newBuilder[CsRow]
    sorted.foreach { t =>
      val d = dayOf(t.ts)
      val cents = math.round(t.price * 100)
      if (st == null) st = CsState(d, cents, cents, havePrev = false, 0L, 0L)
      else if (st.day == d)
        st = st.copy(hc = math.max(st.hc, cents), lc = math.min(st.lc, cents))
      else {
        // day rollover: the finished day is final; emit if it had a predecessor
        if (st.havePrev) out += csRow(symbol, st.day, st.hc, st.lc, st.prevH, st.prevL)
        st = CsState(d, cents, cents, havePrev = true, st.hc, st.lc)
      }
    }
    state.update(st)
    out.result().iterator
  }

  // ---- sign entropy ----

  final case class SeState(
      day: String,
      nTicks: Long,
      hasPrevPrice: Boolean,
      prevCents: Long,
      lastSign: Int, // carried tick-rule sign (seed +1 per day)
      s1: String, // last sign char, "" if none yet
      s2: String, // last two sign chars
      counts: Map[String, Long],
  )

  final case class SeRow(
      symbol: String,
      date: String,
      n_ticks: Long,
      h1: Double,
      h2: Double,
      h3: Double,
  )

  def signEntropy(trades: DataFrame): Dataset[SeRow] = {
    val spark = trades.sparkSession
    import spark.implicits._
    ticks(trades)
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(processSe)
  }

  private[streaming] def entropyOf(counts: Map[String, Long], k: Int, msgLen: Long): Double = {
    val n = msgLen - (k - 1)
    if (msgLen < k) 0.0
    else {
      val grams = counts.keys.filter(_.length == k).toSeq.sorted
      var acc = 0.0
      grams.foreach { g =>
        val p = counts(g).toDouble / n.toDouble
        acc += -p * StrictMath.log(p) / math.log(2.0)
      }
      acc / k.toDouble
    }
  }

  private def freshDay(day: String): SeState =
    SeState(day, 0L, hasPrevPrice = false, 0L, 1, "", "", Map.empty)

  private def emit(symbol: String, st: SeState): SeRow =
    SeRow(
      symbol, st.day, st.nTicks,
      entropyOf(st.counts, 1, st.nTicks),
      entropyOf(st.counts, 2, st.nTicks),
      entropyOf(st.counts, 3, st.nTicks),
    )

  private def processSe(
      symbol: String,
      rows: Iterator[Tick],
      state: GroupState[SeState],
  ): Iterator[SeRow] = {
    val sorted = rows.toSeq.sortBy(t => (StatefulBars.tsMicros(t.ts), t.trade_id))
    var st = state.getOption.orNull
    val out = Seq.newBuilder[SeRow]
    sorted.foreach { t =>
      val d = dayOf(t.ts)
      if (st == null) st = freshDay(d)
      else if (st.day != d) { out += emit(symbol, st); st = freshDay(d) }
      val cents = math.round(t.price * 100)
      val sign =
        if (!st.hasPrevPrice || cents == st.prevCents) st.lastSign
        else if (cents > st.prevCents) 1
        else -1
      val ch = if (sign > 0) "u" else "d"
      var counts = st.counts
      counts = counts.updated(ch, counts.getOrElse(ch, 0L) + 1L)
      if (st.s1.nonEmpty) {
        val g2 = st.s1 + ch
        counts = counts.updated(g2, counts.getOrElse(g2, 0L) + 1L)
      }
      if (st.s2.length == 2) {
        val g3 = st.s2 + ch
        counts = counts.updated(g3, counts.getOrElse(g3, 0L) + 1L)
      }
      st = st.copy(
        nTicks = st.nTicks + 1,
        hasPrevPrice = true,
        prevCents = cents,
        lastSign = sign,
        s1 = ch,
        s2 = (st.s1 + ch).takeRight(2),
        counts = counts,
      )
    }
    state.update(st)
    out.result().iterator
  }

  // ---- Roll spread + Kyle's lambda ----

  final case class MfState(
      day: String,
      hasPrev: Boolean, // a previous price exists within the day
      prevPc: Long,
      hasPrevD: Boolean, // a previous delta exists within the day
      prevD: Long,
      lastSign: Int, // carried tick-rule sign (seed +1 per day)
      nr: Long, sxyR: Long, sxR: Long, syR: Long, // roll moments (d, dPrev)
      nk: Long, sxyK: Long, sxK: Long, syK: Long, sxxK: Long, // kyle moments (sv, d)
  )

  final case class MfRow(
      symbol: String,
      date: String,
      n_deltas: Long,
      roll_spread: Double,
      kyle_lambda: Option[Double],
  )

  /** Streaming twin of `operators.Microstructure.features` (Roll
    * spread + Kyle's lambda per (symbol, day)): the batch operator's
    * exact-integer regression moments accumulate in O(1) per-symbol
    * state, day-rollover finality like the other daily estimators.
    * The final double division/sqrt trees are the batch expressions
    * op-for-op, so emitted rows are bit-identical.
    */
  def microFeatures(trades: DataFrame): Dataset[MfRow] = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades
      .select(
        col("symbol").cast("string"),
        col("ts").cast("timestamp"),
        col("price").cast("double"),
        col("size").cast("long"),
        col("trade_id").cast("long"),
      )
      .as[StatefulBars.Tick]
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(processMf)
  }

  private def freshMf(day: String, pc: Long): MfState =
    MfState(day, hasPrev = true, pc, hasPrevD = false, 0L, 1,
      0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)

  private def mfRow(symbol: String, st: MfState): MfRow = {
    // cov = (n·Σxy − Σx·Σy) / n² — integer numerator, one division
    // (0/0 -> NaN is fine: the nr>1 guard takes the 0.0 branch)
    val cov = (st.nr * st.sxyR - st.sxR * st.syR).toDouble / (st.nr * st.nr).toDouble
    val roll =
      if (st.nr > 1) 2.0 * math.sqrt(math.max(-cov, 0.0)) / 100.0 else 0.0
    val den = (st.nk * st.sxxK - st.sxK * st.sxK).toDouble
    val kyle =
      if (st.nk > 1 && den != 0.0)
        Some((st.nk * st.sxyK - st.sxK * st.syK).toDouble / den)
      else None
    MfRow(symbol, st.day, st.nr, roll, kyle)
  }

  private def processMf(
      symbol: String,
      rows: Iterator[StatefulBars.Tick],
      state: GroupState[MfState],
  ): Iterator[MfRow] = {
    val sorted = rows.toSeq.sortBy(t => (StatefulBars.tsMicros(t.ts), t.trade_id))
    var st = state.getOption.orNull
    val out = Seq.newBuilder[MfRow]
    sorted.foreach { t =>
      val d0 = dayOf(t.ts)
      val pc = StatefulBars.cents(t.price)
      if (st == null) st = freshMf(d0, pc)
      else if (st.day != d0) { out += mfRow(symbol, st); st = freshMf(d0, pc) }
      else {
        val d = pc - st.prevPc
        val sign = if (d != 0) (if (d > 0) 1 else -1) else st.lastSign
        val sv = sign * t.size
        st = st.copy(
          prevPc = pc,
          hasPrevD = true,
          prevD = d,
          lastSign = sign,
          nk = st.nk + 1,
          sxyK = st.sxyK + sv * d,
          sxK = st.sxK + sv,
          syK = st.syK + d,
          sxxK = st.sxxK + sv * sv,
          nr = if (st.hasPrevD) st.nr + 1 else st.nr,
          sxyR = if (st.hasPrevD) st.sxyR + d * st.prevD else st.sxyR,
          sxR = if (st.hasPrevD) st.sxR + d else st.sxR,
          syR = if (st.hasPrevD) st.syR + st.prevD else st.syR,
        )
      }
    }
    state.update(st)
    out.result().iterator
  }

  // ---- Amihud illiquidity ----

  final case class AmState(
      day: String,
      openPc: Long,
      closePc: Long,
      dvCents: Long,
      nTicks: Long,
  )

  final case class AmRow(
      symbol: String,
      date: String,
      n_ticks: Long,
      amihud_illiq: Option[Double],
  )

  /** Streaming twin of `operators.Microstructure.amihud`: open/close
    * cents and the BIGINT dollar-volume sum live in O(1) per-symbol
    * state; day-rollover finality; the single fused FP division is
    * the batch expression op-for-op, so emitted rows are
    * bit-identical on completed days.
    */
  def amihud(trades: DataFrame): Dataset[AmRow] = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades
      .select(
        col("symbol").cast("string"),
        col("ts").cast("timestamp"),
        col("price").cast("double"),
        col("size").cast("long"),
        col("trade_id").cast("long"),
      )
      .as[StatefulBars.Tick]
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(processAm)
  }

  private def amRow(symbol: String, st: AmState): AmRow = {
    val v =
      if (st.openPc > 0 && st.dvCents > 0)
        Some(
          math.abs(st.closePc - st.openPc).toDouble * 1e8 /
            (st.openPc.toDouble * st.dvCents.toDouble)
        )
      else None
    AmRow(symbol, st.day, st.nTicks, v)
  }

  private def processAm(
      symbol: String,
      rows: Iterator[StatefulBars.Tick],
      state: GroupState[AmState],
  ): Iterator[AmRow] = {
    val sorted = rows.toSeq.sortBy(t => (StatefulBars.tsMicros(t.ts), t.trade_id))
    var st = state.getOption.orNull
    val out = Seq.newBuilder[AmRow]
    sorted.foreach { t =>
      val d0 = dayOf(t.ts)
      val pc = StatefulBars.cents(t.price)
      if (st == null) st = AmState(d0, pc, pc, pc * t.size, 1L)
      else if (st.day != d0) {
        out += amRow(symbol, st)
        st = AmState(d0, pc, pc, pc * t.size, 1L)
      } else
        st = st.copy(closePc = pc, dvCents = st.dvCents + pc * t.size, nTicks = st.nTicks + 1)
    }
    state.update(st)
    out.result().iterator
  }

  // ---- OU mean-reversion half-life ----

  final case class OuState(
      day: String,
      prevPc: Long,
      n: Long,
      sx: Long, sd: Long, sxd: Long, sxx: Long,
  )

  final case class OuRow(
      symbol: String,
      date: String,
      n_deltas: Long,
      ou_beta: Option[Double],
      ou_half_life: Option[Double],
  )

  /** Streaming twin of `operators.Microstructure.ouHalfLife`: the OU
    * regression moments live in 5 longs of per-symbol state with
    * day-rollover finality; the beta division and the
    * −ln 2 / ln(1+β) chain are the batch expressions op-for-op, so
    * emitted rows are bit-identical on completed days.
    */
  def ouHalfLife(trades: DataFrame): Dataset[OuRow] = {
    val spark = trades.sparkSession
    import spark.implicits._
    ticks(trades)
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(processOu)
  }

  private def ouRow(symbol: String, st: OuState): OuRow = {
    val den = (st.n * st.sxx - st.sx * st.sx).toDouble
    val beta =
      if (st.n > 1 && den != 0.0) Some((st.n * st.sxd - st.sx * st.sd).toDouble / den)
      else None
    // StrictMath.log: Spark's Log expression evaluates via StrictMath,
    // which can differ from Math.log's HotSpot intrinsic by one ulp
    val hl = beta
      .filter(b => b > -1.0 && b < 0.0)
      .map(b => -StrictMath.log(2.0) / StrictMath.log(1.0 + b))
    OuRow(symbol, st.day, st.n, beta, hl)
  }

  private def processOu(
      symbol: String,
      rows: Iterator[Tick],
      state: GroupState[OuState],
  ): Iterator[OuRow] = {
    val sorted = rows.toSeq.sortBy(t => (StatefulBars.tsMicros(t.ts), t.trade_id))
    var st = state.getOption.orNull
    val out = Seq.newBuilder[OuRow]
    sorted.foreach { t =>
      val d0 = dayOf(t.ts)
      val pc = StatefulBars.cents(t.price)
      if (st == null) st = OuState(d0, pc, 0L, 0L, 0L, 0L, 0L)
      else if (st.day != d0) {
        out += ouRow(symbol, st)
        st = OuState(d0, pc, 0L, 0L, 0L, 0L, 0L)
      } else {
        val x = st.prevPc
        val d = pc - st.prevPc
        st = st.copy(
          prevPc = pc,
          n = st.n + 1,
          sx = st.sx + x,
          sd = st.sd + d,
          sxd = st.sxd + x * d,
          sxx = st.sxx + x * x,
        )
      }
    }
    state.update(st)
    out.result().iterator
  }

  private def ticks(trades: DataFrame): Dataset[Tick] = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades
      .select(
        col("symbol").cast("string"),
        col("ts").cast("timestamp"),
        col("price").cast("double"),
        col("trade_id").cast("long"),
      )
      .as[Tick]
  }

  // ---- Hasbrouck lambda ----

  final case class HbState(
      day: String,
      prevPc: Long,
      lastSign: Int,
      n: Long,
      sxy: Long,
      sxx: Long,
  )

  final case class HbRow(
      symbol: String,
      date: String,
      n_deltas: Long,
      hasbrouck_lambda: Option[Double],
  )

  /** Streaming twin of `operators.Microstructure.hasbrouck`: the
    * tick-rule sign, quantized √dollar x, and both BIGINT moments
    * live in O(1) per-symbol state; day-rollover finality; the
    * single 100·Σxy/Σx² division is the batch tree op-for-op
    * (math.round(positive < 2⁵²) ≡ Catalyst's BigDecimal HALF_UP,
    * math.sqrt is the same IEEE-exact sqrt).
    */
  def hasbrouck(trades: DataFrame): Dataset[HbRow] = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades
      .select(
        col("symbol").cast("string"),
        col("ts").cast("timestamp"),
        col("price").cast("double"),
        col("size").cast("long"),
        col("trade_id").cast("long"),
      )
      .as[StatefulBars.Tick]
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(processHb)
  }

  private def hbRow(symbol: String, st: HbState): HbRow = {
    val lambda =
      if (st.n > 0 && st.sxx != 0L) Some(100.0 * st.sxy.toDouble / st.sxx.toDouble)
      else None
    HbRow(symbol, st.day, st.n, lambda)
  }

  private def processHb(
      symbol: String,
      rows: Iterator[StatefulBars.Tick],
      state: GroupState[HbState],
  ): Iterator[HbRow] = {
    val sorted = rows.toSeq.sortBy(t => (StatefulBars.tsMicros(t.ts), t.trade_id))
    var st = state.getOption.orNull
    val out = Seq.newBuilder[HbRow]
    sorted.foreach { t =>
      val d0 = dayOf(t.ts)
      val pc = StatefulBars.cents(t.price)
      if (st == null) st = HbState(d0, pc, 1, 0L, 0L, 0L)
      else if (st.day != d0) { out += hbRow(symbol, st); st = HbState(d0, pc, 1, 0L, 0L, 0L) }
      else {
        val d = pc - st.prevPc
        val sign = if (d != 0) (if (d > 0) 1 else -1) else st.lastSign
        val x = sign * math.round(math.sqrt((pc * t.size).toDouble) * 100.0)
        st = HbState(d0, pc, sign, st.n + 1, st.sxy + x * d, st.sxx + x * x)
      }
    }
    state.update(st)
    out.result().iterator
  }

  // ---- Kontoyiannis LZ entropy ----

  final case class LzState(
      day: String,
      nTicks: Long,
      prevPc: Long,
      lastSgn: Int,
      t: Long,
      nPoints: Long,
      sum: Double,
      fwd: Array[Long],
  )

  final case class LzRow(
      symbol: String,
      date: String,
      n_ticks: Long,
      n_points: Long,
      lz_entropy: Option[Double],
  )

  /** Streaming twin of `operators.Microstructure.lzEntropyScan`:
    * the O(window) accumulator (bit rings + running term sum) is the
    * per-symbol state, snapshot across micro-batches; day-rollover
    * finality. Term sums accumulate in tick order in both forms, so
    * emitted rows are bit-identical on completed days.
    */
  def lzEntropy(trades: DataFrame, window: Int = 32): Dataset[LzRow] = {
    val spark = trades.sparkSession
    import spark.implicits._
    ticks(trades)
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        processLz(window) _
      )
  }

  private def processLz(window: Int)(
      symbol: String,
      rows: Iterator[Tick],
      state: GroupState[LzState],
  ): Iterator[LzRow] = {
    val sorted = rows.toSeq.sortBy(t => (StatefulBars.tsMicros(t.ts), t.trade_id))
    val acc = new graft.operators.Microstructure.LzAccumulator(window)
    var st = state.getOption.orNull
    if (st != null) acc.restore(st.t, st.nPoints, st.sum, st.fwd)
    val out = Seq.newBuilder[LzRow]
    def emit(): LzRow = LzRow(symbol, st.day, st.nTicks, acc.points, acc.entropy)
    sorted.foreach { t =>
      val d0 = dayOf(t.ts)
      val pc = StatefulBars.cents(t.price)
      if (st == null) {
        st = LzState(d0, 0L, pc, 1, 0L, 0L, 0.0, null)
      } else if (st.day != d0) {
        out += emit()
        acc.reset()
        st = LzState(d0, 0L, pc, 1, 0L, 0L, 0.0, null)
      }
      val sgn =
        if (st.nTicks > 0L) {
          val d = pc - st.prevPc
          if (d != 0L) (if (d > 0L) 1 else -1) else st.lastSgn
        } else st.lastSgn
      acc.add(if (sgn > 0) 1 else 0)
      st = st.copy(nTicks = st.nTicks + 1L, prevPc = pc, lastSgn = sgn)
    }
    if (st != null) {
      val (t0, p0, s0, f0) = acc.snapshot
      state.update(st.copy(t = t0, nPoints = p0, sum = s0, fwd = f0))
    }
    out.result().iterator
  }

  // ---- Becker-Parkinson sigma ----

  final case class BpRow(
      symbol: String,
      date: String,
      beta: Double,
      gamma: Double,
      bp_sigma: Double,
  )

  /** Streaming twin of `operators.Microstructure.beckerParkinson`:
    * the Corwin-Schultz twin's completed-day rows mapped through the
    * identical σ tree (same driver-side constants, same op order).
    */
  def beckerParkinson(trades: DataFrame): Dataset[BpRow] = {
    val spark = trades.sparkSession
    import spark.implicits._
    val k2 = math.sqrt(8.0 / math.Pi)
    val den = 3.0 - 2.0 * math.sqrt(2.0)
    val c1 = 1.0 / math.sqrt(2.0) - 1.0
    val k2den = k2 * den
    val k2sqden = k2 * k2 * den
    corwinSchultz(trades).map { r =>
      val sigma = c1 * math.sqrt(r.beta) / k2den + math.sqrt(r.gamma / k2sqden)
      BpRow(r.symbol, r.date, r.beta, r.gamma, math.max(sigma, 0.0))
    }
  }

  // ---- daily order-flow imbalance ----

  final case class OfState(
      day: String,
      prevPc: Long,
      lastSign: Int,
      nTicks: Long,
      buy: Long,
      sell: Long,
  )

  final case class OfRow(
      symbol: String,
      date: String,
      n_ticks: Long,
      buy_vol: Long,
      sell_vol: Long,
      ofi: Option[Double],
  )

  /** Streaming twin of `operators.Microstructure.orderFlow`: the
    * tick-rule sign chain (seed +1, carry on flat, day-reset) plus
    * three counters — day-rollover finality, bit-equal to batch on
    * completed days (the same integer sums and single division).
    */
  def orderFlow(trades: DataFrame): Dataset[OfRow] = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades
      .select(
        col("symbol").cast("string"),
        col("ts").cast("timestamp"),
        col("price").cast("double"),
        col("size").cast("long"),
        col("trade_id").cast("long"),
      )
      .as[StatefulBars.Tick]
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(processOf)
  }

  private def ofRow(symbol: String, st: OfState): OfRow = {
    val total = st.buy + st.sell
    val ofi = if (total > 0) Some((st.buy - st.sell).toDouble / total.toDouble) else None
    OfRow(symbol, st.day, st.nTicks, st.buy, st.sell, ofi)
  }

  private def processOf(
      symbol: String,
      rows: Iterator[StatefulBars.Tick],
      state: GroupState[OfState],
  ): Iterator[OfRow] = {
    val sorted = rows.toSeq.sortBy(t => (StatefulBars.tsMicros(t.ts), t.trade_id))
    var st = state.getOption.orNull
    val out = Seq.newBuilder[OfRow]
    sorted.foreach { t =>
      val d0 = dayOf(t.ts)
      val pc = StatefulBars.cents(t.price)
      if (st == null) st = OfState(d0, pc, 1, 1L, t.size, 0L)
      else if (st.day != d0) { out += ofRow(symbol, st); st = OfState(d0, pc, 1, 1L, t.size, 0L) }
      else {
        val d = pc - st.prevPc
        val sign = if (d != 0) (if (d > 0) 1 else -1) else st.lastSign
        st = OfState(d0, pc, sign, st.nTicks + 1,
          if (sign > 0) st.buy + t.size else st.buy,
          if (sign < 0) st.sell + t.size else st.sell)
      }
    }
    state.update(st)
    out.result().iterator
  }
}

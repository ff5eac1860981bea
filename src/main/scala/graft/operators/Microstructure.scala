package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.api.TradingCols
import graft.plans.{KeyedScan, ScanKernel, ScanOut}

/** Microstructural features (AFML ch.19): per-(symbol, day)
  * estimators of effective spread and price impact from the tick
  * stream.
  *
  *  - Roll spread: 2·√(−cov(Δp_t, Δp_{t−1})) — the implied bid-ask
  *    bounce from negative serial covariance of price changes.
  *  - Kyle's lambda: slope of Δp on signed volume — per-share price
  *    impact.
  *
  * Everything accumulates in exact integer cents/shares (Δp as cent
  * deltas, signed volume as sign·size): the covariance/slope
  * numerators and denominators are BIGINT sums — associative, so the
  * one hash exchange on (symbol, day) aggregates map-side and the
  * final double division is the only FP step, bit-identical across
  * engines and thread counts (the vwap lesson applied to
  * regression moments).
  */
object Microstructure {

  /** Per-(symbol, day) Roll spread and Kyle's lambda.
    *
    * Output: symbol, date, n_deltas, roll_spread (dollars; 0 when the
    * serial covariance is non-negative), kyle_lambda (cents per
    * signed share; null when signed volume has zero variance).
    */
  def features(df: DataFrame, c: TradingCols = TradingCols.default): DataFrame = {
    val w = Window.partitionBy(col("symbol"), col("date")).orderBy(col("ts"), col("trade_id"))
    val base = df.na
      .drop(Seq(c.price))
      .select(
        col(c.symbol).cast("string").as("symbol"),
        to_date(col(c.ts)).as("date"),
        col(c.ts).as("ts"),
        round(col(c.price) * 100).cast("long").as("pc"),
        col(c.size).cast("long").as("size"),
        col(c.tradeId).cast("long").as("trade_id"),
      )
      .withColumn("d", col("pc") - lag(col("pc"), 1).over(w)) // cent delta
      .withColumn("dPrev", lag(col("d"), 1).over(w))
      // tick-rule sign (carry last on flat ticks, seed +1)
      .withColumn(
        "sgn",
        coalesce(
          last(when(col("d") =!= 0, signum(col("d")).cast("long")), ignoreNulls = true).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          ),
          lit(1L),
        ),
      )
      .withColumn("sv", col("sgn") * col("size")) // signed shares

    // pair rows for roll (d, dPrev both present) and kyle (d present)
    base
      .groupBy(col("symbol"), col("date"))
      .agg(
        // roll moments over (d, dPrev) pairs
        count(col("dPrev")).as("nr"),
        sum(when(col("dPrev").isNotNull, col("d") * col("dPrev"))).as("sxy_r"),
        sum(when(col("dPrev").isNotNull, col("d"))).as("sx_r"),
        sum(when(col("dPrev").isNotNull, col("dPrev"))).as("sy_r"),
        // kyle moments over (sv, d) pairs
        count(col("d")).as("nk"),
        sum(when(col("d").isNotNull, col("sv") * col("d"))).as("sxy_k"),
        sum(when(col("d").isNotNull, col("sv"))).as("sx_k"),
        sum(when(col("d").isNotNull, col("d"))).as("sy_k"),
        sum(when(col("d").isNotNull, col("sv") * col("sv"))).as("sxx_k"),
      )
      .select(
        col("symbol"),
        col("date"),
        col("nr").as("n_deltas"),
        // cov = (n·Σxy − Σx·Σy) / n² — integer numerator, one division
        rollFromMoments(col("nr"), col("sxy_r"), col("sx_r"), col("sy_r")).as("roll_spread"),
        kyleFromMoments(col("nk"), col("sxy_k"), col("sx_k"), col("sy_k"), col("sxx_k"))
          .as("kyle_lambda"),
      )
  }

  private def rollFromMoments(n: Column, sxy: Column, sx: Column, sy: Column): Column = {
    val num = (n * sxy - sx * sy).cast("double")
    val den = (n * n).cast("double")
    val cov = num / den
    when(n > 1, lit(2.0) * sqrt(greatest(-cov, lit(0.0))) / lit(100.0)).otherwise(lit(0.0))
  }

  private def kyleFromMoments(n: Column, sxy: Column, sx: Column, sy: Column, sxx: Column): Column = {
    val num = (n * sxy - sx * sy).cast("double")
    val den = (n * sxx - sx * sx).cast("double")
    when(n > 1 && den =!= 0.0, num / den)
  }

  /** Daily order-flow imbalance: tick-rule-signed volume per
    * (symbol, day) — buy volume, sell volume, and
    * OFI = (V_buy − V_sell)/(V_buy + V_sell), the direction-of-flow
    * companion to [[vpin]]'s |imbalance| toxicity (same sign chain:
    * seed +1, carry last non-flat sign). Integer sums; the single
    * final division is the only FP step. One shuffle on
    * (symbol, date) shared by the sign window and the aggregation.
    */
  def orderFlow(df: DataFrame, c: TradingCols = TradingCols.default): DataFrame = {
    val wOrd = Window.partitionBy(col("symbol"), col("date")).orderBy(col("ts"), col("trade_id"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = df.na
      .drop(Seq(c.price))
      .select(
        col(c.symbol).cast("string").as("symbol"),
        to_date(col(c.ts)).as("date"),
        col(c.ts).as("ts"),
        round(col(c.price) * 100).cast("long").as("pc"),
        col(c.size).cast("long").as("size"),
        col(c.tradeId).cast("long").as("trade_id"),
      )
      .withColumn("d", col("pc") - lag(col("pc"), 1).over(wOrd))
      .withColumn(
        "sgn",
        coalesce(
          last(when(col("d") =!= 0, signum(col("d")).cast("long")), ignoreNulls = true).over(wCum),
          lit(1L),
        ),
      )
    base
      .groupBy(col("symbol"), col("date"))
      .agg(
        count(lit(1)).as("n_ticks"),
        sum(when(col("sgn") === 1L, col("size")).otherwise(0L)).as("buy_vol"),
        sum(when(col("sgn") === -1L, col("size")).otherwise(0L)).as("sell_vol"),
      )
      .withColumn(
        "ofi",
        when(
          col("buy_vol") + col("sell_vol") > 0L,
          (col("buy_vol") - col("sell_vol")).cast("double") /
            (col("buy_vol") + col("sell_vol")).cast("double"),
        ),
      )
  }

  /** VPIN (AFML ch.19.5): volume-synchronized probability of informed
    * trading. Trades are tick-rule-signed and split into exact
    * volume buckets of `bucketVolume` shares (the volume-bar split
    * arithmetic — a straddling trade's pieces land in both buckets);
    * per bucket the order-flow imbalance is |V_buy − V_sell|, and
    * VPIN over a trailing window of `window` buckets is
    * Σ|imbalance| / Σvolume — both integer window sums, so the
    * single final division is the only FP step (engine-exact).
    */
  def vpin(
      df: DataFrame,
      bucketVolume: Long = 500L,
      window: Int = 10,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    val wOrd = Window.partitionBy(col("symbol"), col("date")).orderBy(col("ts"), col("trade_id"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = df.na
      .drop(Seq(c.price))
      .select(
        col(c.symbol).cast("string").as("symbol"),
        to_date(col(c.ts)).as("date"),
        col(c.ts).as("ts"),
        round(col(c.price) * 100).cast("long").as("pc"),
        col(c.size).cast("long").as("size"),
        col(c.tradeId).cast("long").as("trade_id"),
      )
      .withColumn("d", col("pc") - lag(col("pc"), 1).over(wOrd))
      .withColumn(
        "sgn",
        coalesce(
          last(when(col("d") =!= 0, signum(col("d")).cast("long")), ignoreNulls = true).over(wCum),
          lit(1L),
        ),
      )
      .withColumn("cum_end", sum(col("size")).over(wCum))
      .withColumn("cum_start", col("cum_end") - col("size"))
    val pieces = base
      .withColumn(
        "bucket",
        explode(
          sequence(
            expr(s"cum_start div ${bucketVolume}L"),
            expr(s"(cum_end - 1) div ${bucketVolume}L"),
          )
        ),
      )
      .withColumn(
        "amount",
        least(col("cum_end"), (col("bucket") + 1) * bucketVolume) -
          greatest(col("cum_start"), col("bucket") * bucketVolume),
      )
    val buckets = pieces
      .groupBy(col("symbol"), col("date"), col("bucket"))
      .agg(
        sum(when(col("sgn") > 0, col("amount")).otherwise(0L)).as("v_buy"),
        sum(when(col("sgn") < 0, col("amount")).otherwise(0L)).as("v_sell"),
      )
      .withColumn("volume", col("v_buy") + col("v_sell"))
      .withColumn("imbalance", abs(col("v_buy") - col("v_sell")))
    val wB = Window
      .partitionBy(col("symbol"), col("date"))
      .orderBy(col("bucket"))
      .rowsBetween(-(window - 1), Window.currentRow)
    buckets
      .withColumn(
        "vpin",
        sum(col("imbalance")).over(wB).cast("double") /
          sum(col("volume")).over(wB).cast("double"),
      )
      .select("symbol", "date", "bucket", "v_buy", "v_sell", "volume", "imbalance", "vpin")
  }

  /** Corwin-Schultz high-low spread estimator (AFML ch.19.4 / Corwin &
    * Schultz 2012): bid-ask spread implied by the ratio of 1-day to
    * 2-day high-low ranges. Per (symbol, day), from consecutive-day
    * (high, low) pairs:
    *   beta  = ln(H0/L0)^2 + ln(H1/L1)^2
    *   gamma = ln(max(H0,H1)/min(L0,L1))^2
    *   alpha = (sqrt(2 beta) - sqrt(beta))/(3 - 2 sqrt 2)
    *           - sqrt(gamma/(3 - 2 sqrt 2))
    *   S     = 2 (e^a - 1)/(1 + e^a)   (spread_pos clamps at 0, the
    *                                    paper's negative-spread rule)
    * Daily highs/lows aggregate as exact integer cents (map-side
    * partials); the ln/exp tree runs once per (symbol, day) row and
    * is replicated op-for-op by the oracle. One exchange on
    * (symbol, day) + one lag window on symbol — nothing sequential.
    */
  def corwinSchultz(df: DataFrame, c: TradingCols = TradingCols.default): DataFrame = {
    val daily = df.na
      .drop(Seq(c.price))
      .select(
        col(c.symbol).cast("string").as("symbol"),
        to_date(col(c.ts)).as("date"),
        round(col(c.price) * 100).cast("long").as("pc"),
      )
      .groupBy(col("symbol"), col("date"))
      .agg(max(col("pc")).as("hc"), min(col("pc")).as("lc"))
    val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
    val k = 3.0 - 2.0 * math.sqrt(2.0)
    val withPrev = daily
      .withColumn("hp", lag(col("hc"), 1).over(w))
      .withColumn("lp", lag(col("lc"), 1).over(w))
      .where(col("hp").isNotNull)
    val r0 = log(col("hc").cast("double") / col("lc").cast("double"))
    val r1 = log(col("hp").cast("double") / col("lp").cast("double"))
    val beta = r0 * r0 + r1 * r1
    val rg = log(
      greatest(col("hc"), col("hp")).cast("double") /
        least(col("lc"), col("lp")).cast("double")
    )
    val gamma = rg * rg
    val alpha = (sqrt(lit(2.0) * beta) - sqrt(beta)) / lit(k) - sqrt(gamma / lit(k))
    val spread = lit(2.0) * (exp(alpha) - lit(1.0)) / (lit(1.0) + exp(alpha))
    withPrev.select(
      col("symbol"),
      col("date"),
      beta.as("beta"),
      gamma.as("gamma"),
      alpha.as("alpha"),
      spread.as("spread"),
      greatest(spread, lit(0.0)).as("spread_pos"),
    )
  }

  /** Ornstein-Uhlenbeck mean-reversion half-life (AFML ch.13's
    * optimal-trading-rule machinery): per (symbol, day), OLS of the
    * price change on the previous price level,
    * Δp_t = α + β·p_{t−1} + ε — the discrete OU / ADF regression —
    * and the implied half-life −ln 2 / ln(1+β), defined only for
    * mean-reverting days (−1 < β < 0; explosive or unit-root days
    * emit null).
    *
    * Same exact-integer regression moments as [[features]] (x = prior
    * cents level, y = cent delta, all BIGINT sums, map-side
    * combinable); β and the half-life are the only FP steps,
    * replicated op-for-op by the oracle.
    */
  def ouHalfLife(df: DataFrame, c: TradingCols = TradingCols.default): DataFrame = {
    val w = Window.partitionBy(col("symbol"), col("date")).orderBy(col("ts"), col("trade_id"))
    val base = df.na
      .drop(Seq(c.price))
      .select(
        col(c.symbol).cast("string").as("symbol"),
        to_date(col(c.ts)).as("date"),
        col(c.ts).as("ts"),
        round(col(c.price) * 100).cast("long").as("pc"),
        col(c.tradeId).cast("long").as("trade_id"),
      )
      .withColumn("d", col("pc") - lag(col("pc"), 1).over(w))
      .withColumn("x", col("pc") - col("d")) // = lag(pc): prior level
    base
      .groupBy(col("symbol"), col("date"))
      .agg(
        count(col("d")).as("n"),
        sum(when(col("d").isNotNull, col("x"))).as("sx"),
        sum(when(col("d").isNotNull, col("d"))).as("sd"),
        sum(when(col("d").isNotNull, col("x") * col("d"))).as("sxd"),
        sum(when(col("d").isNotNull, col("x") * col("x"))).as("sxx"),
      )
      .select(
        col("symbol"),
        col("date"),
        col("n").as("n_deltas"), {
          val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
          val beta = when(
            col("n") > 1 && den =!= 0.0,
            (col("n") * col("sxd") - col("sx") * col("sd")).cast("double") / den,
          )
          beta.as("ou_beta")
        },
      )
      .withColumn(
        "ou_half_life",
        when(
          col("ou_beta") > -1.0 && col("ou_beta") < 0.0,
          -log(lit(2.0)) / log(lit(1.0) + col("ou_beta")),
        ),
      )
  }

  /** Amihud illiquidity (Amihud 2002; AFML ch.19.4's price-impact
    * family): per (symbol, day), |daily return| per dollar traded,
    * scaled by 1e6 — the standard daily form
    * 1e6 · |close/open − 1| / dollar_volume.
    *
    * Exact-arithmetic shape: open/close are the cent prices of the
    * first/last tick by (ts, trade_id) (min_by/max_by on an integer,
    * unique tie-break — no FP), dollar volume accumulates as BIGINT
    * Σ pc·size cents. The single FP step is the final fused
    * division (|Δpc| · 1e8) / (open_pc · dv_cents) — the 1e8 folds
    * the cents→dollars rescale of both numerator return and
    * denominator volume into the 1e6 convention — replicated
    * op-for-op by the oracle. One map-side-combinable exchange on
    * (symbol, day); no windows, no sequential state.
    */
  def amihud(df: DataFrame, c: TradingCols = TradingCols.default): DataFrame =
    df.na
      .drop(Seq(c.price))
      .select(
        col(c.symbol).cast("string").as("symbol"),
        to_date(col(c.ts)).as("date"),
        col(c.ts).as("ts"),
        round(col(c.price) * 100).cast("long").as("pc"),
        col(c.size).cast("long").as("size"),
        col(c.tradeId).cast("long").as("trade_id"),
      )
      .groupBy(col("symbol"), col("date"))
      .agg(
        graft.functions.OrderedAgg.firstByOrd(col("pc"), col("ts"), col("trade_id")).as("open_pc"),
        graft.functions.OrderedAgg.lastByOrd(col("pc"), col("ts"), col("trade_id")).as("close_pc"),
        sum(col("pc") * col("size")).as("dv_cents"),
        count(lit(1)).as("n_ticks"),
      )
      .select(
        col("symbol"),
        col("date"),
        col("n_ticks"),
        when(
          col("open_pc") > 0 && col("dv_cents") > 0,
          abs(col("close_pc") - col("open_pc")).cast("double") * lit(1e8) /
            (col("open_pc").cast("double") * col("dv_cents").cast("double")),
        ).as("amihud_illiq"),
      )

  /** Realized variance, bipower variation and the jump component
    * (Barndorff-Nielsen & Shephard 2004; the jump-robust volatility
    * decomposition next to AFML ch.19's impact estimators): per
    * (symbol, day) over tick returns r_i = Δp_i / p_{i−1},
    *
    *   RV = Σ r_i²,  BV = (π/2) · Σ |r_i|·|r_{i−1}|,
    *   jump = max(RV − BV, 0)
    *
    * — RV loads on the full path including jumps, BV is jump-robust,
    * the gap isolates the jump contribution.
    *
    * Determinism: the return sums are double folds, so the scan
    * accumulates them SEQUENTIALLY in (ts, trade_id) order per day
    * and the oracle replays the identical left fold via ordered
    * list_reduce — bit-equal per day, day-bounded state. One keyed
    * scan per symbol (no exchange on a symbol-clustered tape); the
    * kernel closes a day when the UTC date of ts changes, and the
    * null-ts ticks (sorted first) are one day with a null date.
    * rv is null on days without a return, bv/jump on days with
    * fewer than two.
    */
  def realizedVol(df: DataFrame, c: TradingCols = TradingCols.default): DataFrame = {
    val ticks = Bars.pricedTicks(df, c)
      .select(col(c.symbol), col(c.ts), round(col(c.price) * 100).cast("long").as("pc"), col(c.tradeId))
    val out = StructType(Seq(StructField("symbol", StringType), StructField("date", StringType),
      StructField("n_returns", LongType, nullable = false), StructField("rv", DoubleType),
      StructField("bv", DoubleType), StructField("jump", DoubleType)))
    val microsPerDay = 86400L * 1000000L
    val noDay = Long.MinValue // the day of a null ts
    KeyedScan(ticks, Seq(col(c.symbol)), Seq(col(c.ts), col(c.tradeId)), out, keyOut = Seq("symbol")) { () =>
      new ScanKernel {
        private var key: InternalRow = null
        private var open = false
        private var curDay = noDay
        private var prevPc = 0L
        private var prevR = 0.0
        private var nR = 0L
        private var rv = 0.0
        private var cs = 0.0 // Σ |r_i||r_{i-1}|

        def reset(k: InternalRow): Unit = { key = k; open = false }

        def step(row: InternalRow, o: ScanOut): Unit = {
          val day = if (row.isNullAt(1)) noDay else Math.floorDiv(row.getLong(1), microsPerDay)
          val pc = row.getLong(2)
          if (!open || day != curDay) {
            if (open) emit(o)
            open = true; curDay = day; prevPc = pc
            nR = 0L; rv = 0.0; cs = 0.0; prevR = 0.0
          } else {
            val r = (pc - prevPc).toDouble / prevPc.toDouble
            prevPc = pc
            if (nR >= 1) cs += math.abs(r) * math.abs(prevR)
            rv += r * r
            nR += 1
            prevR = r
          }
        }

        private def emit(o: ScanOut): Unit = {
          val w = o.begin()
          o.copy(0, key, 0, StringType)
          if (curDay == noDay) w.setNullAt(1)
          else w.write(1, UTF8String.fromString(
            java.time.format.DateTimeFormatter.ISO_LOCAL_DATE.format(java.time.LocalDate.ofEpochDay(curDay))))
          w.write(2, nR)
          if (nR >= 1) w.write(3, rv) else w.setNullAt(3)
          if (nR >= 2) {
            val bv = math.Pi / 2 * cs
            w.write(4, bv)
            w.write(5, math.max(rv - bv, 0.0))
          } else { w.setNullAt(4); w.setNullAt(5) }
          o.emit()
        }

        def flush(o: ScanOut): Unit = if (open) emit(o)
      }
    }
  }

  /** Plug-in entropy of the tick-rule sign stream (AFML ch.18):
    * per (symbol, day), the empirical Shannon entropy RATE of the
    * up/down message at word lengths k = 1, 2, 3 (bits per symbol,
    * H_k / k). Low entropy = predictable one-sided flow (informed
    * trading proxy); ~1 bit = coin-flip flow. 0.0 for days shorter
    * than k ticks.
    *
    * One keyed scan per (symbol, day) in (ts, trade_id) order that
    * derives the tick-rule u/d character AND accumulates the k-gram
    * counters inline — O(1) state per group (14 counters for the
    * binary alphabet + last sign + two lag codes), no collect_list
    * array, no array_sort, no interpreted fold. On a symbol-clustered
    * tape it plans no exchange.
    *
    * Bit-identical to the declarative form kept in the tests as the
    * reference (windows, collect_list and a sorted-array fold; pinned
    * in CoreOperatorsSpec): the k-gram counts are exact integers, and
    * the entropy accumulates term-by-term in ascending gram order —
    * exactly the order the sorted-array fold visits (d < u in binary
    * UTF8 order = counter index order), with the same
    * ((-p)·ln p)/ln 2 term tree (StrictMath.log == Catalyst LOG). The
    * DuckDB oracle replays the same fold.
    */
  def signEntropy(df: DataFrame, c: TradingCols = TradingCols.default): DataFrame = {
    val ln2 = math.log(2.0)
    signScan(df, c, Seq(StructField("h1", DoubleType, nullable = false),
      StructField("h2", DoubleType, nullable = false), StructField("h3", DoubleType, nullable = false))) {
      () =>
        new SignScan {
          private val c1 = new Array[Long](2)
          private val c2 = new Array[Long](4)
          private val c3 = new Array[Long](8)
          private var lag1 = -1 // code of previous char, -1 = none
          private var lag2 = -1 // code of char before that

          protected def start(): Unit = {
            lag1 = -1; lag2 = -1
            java.util.Arrays.fill(c1, 0L); java.util.Arrays.fill(c2, 0L); java.util.Arrays.fill(c3, 0L)
          }

          protected def add(code: Int): Unit = {
            c1(code) += 1L
            if (lag1 >= 0) c2((lag1 << 1) | code) += 1L
            if (lag2 >= 0) c3((lag2 << 2) | (lag1 << 1) | code) += 1L
            lag2 = lag1
            lag1 = code
          }

          private def entropy(counts: Array[Long], nGrams: Long, k: Int): Double = {
            if (nTicks < k) return 0.0
            val nd = nGrams.toDouble
            var acc = 0.0
            var g = 0
            while (g < counts.length) {
              val cnt = counts(g)
              if (cnt > 0L) {
                val p = cnt.toDouble / nd
                acc += (-p) * StrictMath.log(p) / ln2
              }
              g += 1
            }
            acc / k.toDouble
          }

          protected def write(w: UnsafeRowWriter): Unit = {
            w.write(3, entropy(c1, nTicks, 1))
            w.write(4, entropy(c2, nTicks - 1, 2))
            w.write(5, entropy(c3, nTicks - 2, 3))
          }
        }
    }
  }

  /** The per-(symbol, day) tick-rule scan behind [[signEntropy]] and
    * [[lzEntropyScan]], over the ticks with a price in (ts, trade_id)
    * order. Output: symbol, date, n_ticks, then `stats`.
    */
  private def signScan(df: DataFrame, c: TradingCols, stats: Seq[StructField])(
      kernel: () => SignScan): DataFrame = {
    val ticks = df.na
      .drop(Seq(c.price))
      .select(
        col(c.symbol).cast("string").as("symbol"),
        to_date(col(c.ts)).as("date"),
        col(c.ts).as("ts"),
        round(col(c.price) * 100).cast("long").as("pc"),
        col(c.tradeId).cast("long").as("trade_id"),
      )
    val out = StructType(Seq(StructField("symbol", StringType), StructField("date", DateType),
      StructField("n_ticks", LongType, nullable = false)) ++ stats)
    KeyedScan(ticks, Seq(col("symbol"), col("date")), Seq(col("ts"), col("trade_id")), out,
      keyOut = Seq("symbol", "date"))(kernel)
  }

  /** One (symbol, day) of [[signScan]]: the tick-rule code of each tick
    * (u = 1, d = 0; the first tick of a day counts as up) goes to `add`,
    * and `flush` writes the day's row with `write` filling the stats.
    */
  private abstract class SignScan extends ScanKernel {
    private var key: InternalRow = null
    protected var nTicks = 0L
    private var prevPc = 0L
    private var lastSgn = 1

    protected def start(): Unit
    protected def add(code: Int): Unit
    protected def write(w: UnsafeRowWriter): Unit

    def reset(k: InternalRow): Unit = { key = k; nTicks = 0L; lastSgn = 1; start() }

    def step(row: InternalRow, o: ScanOut): Unit = {
      val pc = row.getLong(3)
      if (nTicks > 0L) {
        val d = pc - prevPc
        if (d != 0L) lastSgn = if (d > 0L) 1 else -1
      }
      prevPc = pc
      add(if (lastSgn > 0) 1 else 0)
      nTicks += 1L
    }

    def flush(o: ScanOut): Unit = {
      val w = o.begin()
      o.copy(0, key, 0, StringType)
      o.copy(1, key, 1, DateType)
      w.write(2, nTicks)
      write(w)
      o.emit()
    }
  }

  /** Per-day Kontoyiannis LZ accumulator shared by the batch scan
    * and its streaming twin: O(window) state (two 2w rings + the
    * running term sum), O(window) work per tick.
    *
    * The binary u/d alphabet makes the match search bit-parallel:
    * each ring slot carries the w-bit FORWARD window starting at
    * that index (bit k = code at index+k), filled incrementally as
    * codes arrive; the longest match between suffixes i and j is
    * numberOfTrailingZeros(fwd_i ^ fwd_j) capped at w — one XOR per
    * candidate start instead of a character loop.
    */
  private[graft] final class LzAccumulator(val window: Int) {
    require(window >= 1 && window <= 62, "window must be in [1, 62]")
    private val ring = 2 * window
    private val fwd = new Array[Long](ring)
    private val mask = (1L << window) - 1L
    private var t = 0L // codes seen this day
    private var nPoints = 0L
    private var sum = 0.0
    private val logTerm = StrictMath.log((window + 1).toDouble) / StrictMath.log(2.0)

    def reset(): Unit = {
      java.util.Arrays.fill(fwd, 0L)
      t = 0L; nPoints = 0L; sum = 0.0
    }

    def n: Long = t
    def points: Long = nPoints

    /** Feed the next u/d code (1/0) of the day, in tick order. */
    def add(code: Int): Unit = {
      val slot = (t % ring).toInt
      fwd(slot) = 0L
      // this code is bit (t - p) of every live forward window p > t - w
      var off = 0
      while (off < window && off <= t) {
        fwd(((t - off) % ring).toInt) |= code.toLong << off
        off += 1
      }
      // point i = t - w + 1 is complete once its forward window is
      // (codes [i, i + w) all seen) AND it has w history starts
      val i = t - window + 1
      if (i >= window) {
        val fi = fwd((i % ring).toInt) & mask
        var best = 0 // max match length over starts j in [i - w, i)
        var j = i - window
        while (j < i) {
          val ml = java.lang.Long.numberOfTrailingZeros((fwd((j % ring).toInt) & mask) ^ fi)
          val m = if (ml > window) window else ml
          if (m > best) best = m
          j += 1
        }
        sum += logTerm / (best + 1).toDouble
        nPoints += 1L
      }
      t += 1L
    }

    /** Mean log₂(w+1)/Λ over the day's points; None when no point
      * has both full history and a full forward window (n < 2w).
      */
    def entropy: Option[Double] = if (nPoints > 0L) Some(sum / nPoints.toDouble) else None

    // state carry for the streaming twin (micro-batch boundaries)
    def snapshot: (Long, Long, Double, Array[Long]) = (t, nPoints, sum, fwd.clone())
    def restore(t0: Long, p0: Long, s0: Double, f0: Array[Long]): Unit = {
      t = t0; nPoints = p0; sum = s0
      System.arraycopy(f0, 0, fwd, 0, ring)
    }
  }

  /** Kontoyiannis window LZ entropy of the tick-rule sign stream
    * (AFML ch.18.4's second entropy estimator next to the plug-in
    * [[signEntropy]]): per (symbol, day), for every point i with
    * `window` signs of history and lookahead, Λ_i = 1 + the longest
    * substring starting at i that re-occurs starting in the trailing
    * window, and Ĥ = mean(log₂(window+1)/Λ_i) — low for repetitive
    * (predictable, mean-reverting) sign streams, ≈1 bit for
    * incompressible ones.
    *
    * Not SQL-expressible (sequential longest-match recursion), so
    * the query is rows-only; the estimator is pinned in ScalaTest on
    * constant / alternating / pseudo-random streams plus a brute-
    * force replay of the textbook matchLength definition. Same
    * per-(symbol, day) keyed scan as [[signEntropy]]; O(window)
    * state, O(window) work per tick (bit-parallel match).
    */
  def lzEntropyScan(df: DataFrame, window: Int = 32, c: TradingCols = TradingCols.default): DataFrame =
    signScan(df, c, Seq(StructField("n_points", LongType, nullable = false),
      StructField("lz_entropy", DoubleType))) { () =>
      new SignScan {
        private val acc = new LzAccumulator(window)
        protected def start(): Unit = acc.reset()
        protected def add(code: Int): Unit = acc.add(code)
        protected def write(w: UnsafeRowWriter): Unit = {
          w.write(3, acc.points)
          acc.entropy match {
            case Some(h) => w.write(4, h)
            case None => w.setNullAt(4)
          }
        }
      }
    }

  /** Hasbrouck's lambda (Hasbrouck 2009; AFML ch.19.4's third impact
    * estimator next to Kyle and Amihud): per (symbol, day), the
    * through-origin slope of the cent price change on SIGNED SQUARE
    * ROOT dollar volume, Δp_t = λ·sgn_t·√(p_t·v_t) + ε — impact
    * concave in trade size, per the square-root law.
    *
    * Exactness: √(pc·size) is one IEEE sqrt of an exact integer
    * (identical across engines), quantized to integer hundredths
    * (x = round(100·√cent-dollars)) so both regression moments Σxy
    * and Σx² accumulate as associative BIGINTs; λ = 100·Σxy/Σx² is
    * the only FP step, replicated op-for-op by the oracle. Headroom:
    * x ≤ 1e6 for $100k trades, so Σx² stays under 2⁶³ to ~9e6 ticks
    * per symbol-day — beyond that, pre-aggregate to bars first.
    * Same single (symbol, day) exchange as [[features]].
    */
  def hasbrouck(df: DataFrame, c: TradingCols = TradingCols.default): DataFrame = {
    val w = Window.partitionBy(col("symbol"), col("date")).orderBy(col("ts"), col("trade_id"))
    val base = df.na
      .drop(Seq(c.price))
      .select(
        col(c.symbol).cast("string").as("symbol"),
        to_date(col(c.ts)).as("date"),
        col(c.ts).as("ts"),
        round(col(c.price) * 100).cast("long").as("pc"),
        col(c.size).cast("long").as("size"),
        col(c.tradeId).cast("long").as("trade_id"),
      )
      .withColumn("d", col("pc") - lag(col("pc"), 1).over(w))
      // tick-rule sign, identical to [[features]]
      .withColumn(
        "sgn",
        coalesce(
          last(when(col("d") =!= 0, signum(col("d")).cast("long")), ignoreNulls = true).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          ),
          lit(1L),
        ),
      )
      .withColumn(
        "x",
        col("sgn") * round(sqrt((col("pc") * col("size")).cast("double")) * lit(100.0)).cast("long"),
      )
    base
      .groupBy(col("symbol"), col("date"))
      .agg(
        count(col("d")).as("n"),
        sum(when(col("d").isNotNull, col("x") * col("d"))).as("sxy"),
        sum(when(col("d").isNotNull, col("x") * col("x"))).as("sxx"),
      )
      .select(
        col("symbol"),
        col("date"),
        col("n").as("n_deltas"),
        when(
          col("n") > 0 && col("sxx") =!= 0L,
          lit(100.0) * col("sxy").cast("double") / col("sxx").cast("double"),
        ).as("hasbrouck_lambda"),
      )
  }

  /** Becker-Parkinson high-low volatility (AFML ch.19.3, the
    * companion output of the Corwin-Schultz machinery): from the same
    * per-(symbol, day) β/γ as [[corwinSchultz]],
    *
    *   k₂ = √(8/π),  den = 3 − 2√2,
    *   σ = (2^{−1/2} − 1)·√β / (k₂·den) + √(γ / (k₂²·den)),
    *
    * clamped at 0 (the book's negative-volatility rule). The
    * constants are computed once driver-side and the σ tree is
    * replicated op-for-op by the oracle; β/γ exactness is inherited
    * from corwinSchultz's integer-cent daily extremes.
    */
  def beckerParkinson(df: DataFrame, c: TradingCols = TradingCols.default): DataFrame = {
    val k2 = math.sqrt(8.0 / math.Pi)
    val den = 3.0 - 2.0 * math.sqrt(2.0)
    val c1 = 1.0 / math.sqrt(2.0) - 1.0
    val sigma =
      lit(c1) * sqrt(col("beta")) / lit(k2 * den) + sqrt(col("gamma") / lit(k2 * k2 * den))
    corwinSchultz(df, c)
      .select(
        col("symbol"),
        col("date"),
        col("beta"),
        col("gamma"),
        greatest(sigma, lit(0.0)).as("bp_sigma"),
      )
  }
}

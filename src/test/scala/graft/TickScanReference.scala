package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.TradingCols

/** The declarative window forms of `TrendScan.labels`, `Sadf.sadf` and
  * `Microstructure.signEntropy`, kept as the references those keyed
  * scans are pinned against. The first two window over the whole
  * symbol in (ts, trade_id) order after dropping the ticks without a
  * price, as the scans do; a null symbol is one partition and null
  * order values sort first, as in the scans. Sign entropy windows per
  * (symbol, day).
  */
object TickScanReference {

  /** Trend-scanning labels: cumulative window sums and one packed
    * (cy, cyy, cjy) lead per horizon; the argmax over (|t|, -L)
    * structs.
    */
  def trendLabels(
      df: DataFrame,
      minHorizon: Int = 5,
      maxHorizon: Int = 20,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    require(minHorizon >= 3, "t-value needs at least 3 points")
    require(maxHorizon >= minHorizon, "maxHorizon >= minHorizon")
    val ord = Window.partitionBy(col("__sym")).orderBy(col("__ts"), col("__tid"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = prepared(df, c)
      .withColumn("__cents", round(col("__price") * 100).cast("long"))
      .withColumn("__rn", row_number().over(ord).cast("long"))
      .withColumn("__cy", sum(col("__cents")).over(cum))
      .withColumn("__cyy", sum(col("__cents") * col("__cents")).over(cum))
      .withColumn("__cjy", sum(col("__rn") * col("__cents")).over(cum))

    // Every lead is materialized once as a named column (Spark does
    // not deduplicate repeated window expressions), each horizon's
    // t-value tree is computed once into a column, and the argmax
    // projection sits above the __full Window node, which
    // CollapseProject cannot cross.
    val ls = minHorizon to maxHorizon
    val cums = struct(col("__cy").as("cy"), col("__cyy").as("cyy"), col("__cjy").as("cjy"))
    val leadCols = ls.map(l => lead(cums, l - 1).over(ord).as(s"__e_$l"))
    val withLeads = base.select(Seq(
      col("__sym"), col("__ts"), col("__tid"), col("__price"),
      col("__rn"), col("__cents"), col("__cy"), col("__cyy"), col("__cjy"),
    ) ++ leadCols: _*)

    // forward-window moments for horizon L: S = cum(end) - cum(before start)
    def horizonCols(l: Int): Seq[Column] = {
      val sy = col(s"__e_$l.cy") - (col("__cy") - col("__cents"))
      val syy = col(s"__e_$l.cyy") - (col("__cyy") - col("__cents") * col("__cents"))
      val sjy = col(s"__e_$l.cjy") - (col("__cjy") - col("__rn") * col("__cents"))
      val sxy = sjy - col("__rn") * sy // x rebased to 0..L-1
      val sx = l.toLong * (l - 1) / 2
      val sxx = (l - 1).toLong * l * (2 * l - 1) / 6
      val den = l * sxx - sx * sx // = L * centered Sxx
      val num = lit(l.toLong) * sxy - lit(sx) * sy
      val b = num.cast("double") / lit(den.toDouble)
      val sxxc = den.toDouble / l
      val syyc = syy.cast("double") - sy.cast("double") * sy.cast("double") / lit(l.toDouble)
      val ssr = syyc - b * b * lit(sxxc)
      val tval = when(ssr <= lit(0.0), signum(num).cast("double") * lit(1e308))
        .otherwise(b * lit(math.sqrt(sxxc)) / sqrt(ssr / lit((l - 2).toDouble)))
      Seq(tval.as(s"__t_$l"), b.as(s"__b_$l"), signum(num).cast("int").as(s"__lab_$l"))
    }

    val projected = withLeads.select(
      Seq(col("__sym"), col("__ts"), col("__tid"), col("__price"), col("__rn")) ++ ls.flatMap(horizonCols): _*
    )
    val cands = array(ls.map { l =>
      struct(
        abs(col(s"__t_$l")).as("a"),
        lit(-l).as("nl"),
        col(s"__t_$l").as("t"),
        col(s"__b_$l").as("b"),
        col(s"__lab_$l").as("lab"),
        lit(l).as("l"),
      )
    }: _*)
    projected
      // every horizon complete: the longest lead must exist
      .withColumn("__full", lead(col("__rn"), maxHorizon - 1).over(ord).isNotNull)
      .where(col("__full"))
      .withColumn("__best", array_max(cands))
      .select(
        col("__sym").as(c.symbol),
        col("__ts").as(c.ts),
        col("__price").as(c.price),
        col("__best.l").as("best_l"),
        col("__best.lab").as("label"),
        col("__best.b").as("beta"),
        col("__best.t").as("tval"),
      )
  }

  /** Bounded SADF: five cumulative BIGINT moments and one struct lag
    * per window length; the sup via struct array_max over (t, -n).
    */
  def sadf(
      df: DataFrame,
      minWindow: Int = 10,
      maxWindow: Int = 40,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    require(minWindow >= 4, "ADF t-stat needs n-2 > 1")
    require(maxWindow >= minWindow)
    val ord = Window.partitionBy(col("__sym")).orderBy(col("__ts"), col("__tid"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val base = prepared(df, c)
      .withColumn("__cents", round(col("__price") * 100).cast("long"))
      .withColumn("__x", lag(col("__cents"), 1).over(ord)) // y_{t-1}
      .withColumn("__d", col("__cents") - col("__x")) // Δy_t
      .where(col("__x").isNotNull)
      .withColumn("__rn", row_number().over(ord).cast("long"))
      .withColumn("__cx", sum(col("__x")).over(cum))
      .withColumn("__cxx", sum(col("__x") * col("__x")).over(cum))
      .withColumn("__cd", sum(col("__d")).over(cum))
      .withColumn("__cdd", sum(col("__d") * col("__d")).over(cum))
      .withColumn("__cxd", sum(col("__x") * col("__d")).over(cum))

    val ns = minWindow to maxWindow
    val cums = struct(
      col("__cx").as("cx"), col("__cxx").as("cxx"), col("__cd").as("cd"),
      col("__cdd").as("cdd"), col("__cxd").as("cxd"),
    )
    val lagCols = ns.map(n => lag(cums, n).over(ord).as(s"__s_$n"))
    val withLags = base.select(Seq(
      col("__sym"), col("__ts"), col("__tid"), col("__price"), col("__rn"),
      col("__cx"), col("__cxx"), col("__cd"), col("__cdd"), col("__cxd"),
    ) ++ lagCols: _*)

    // backward-window moments: S = cum(t) - cum(t-n); lag(cum, n) is
    // null for the first n rows -> those candidates drop with __have
    def windowCols(n: Int): Seq[Column] = {
      val sx = col("__cx") - col(s"__s_$n.cx")
      val sxx = col("__cxx") - col(s"__s_$n.cxx")
      val sd = col("__cd") - col(s"__s_$n.cd")
      val sdd = col("__cdd") - col(s"__s_$n.cdd")
      val sxd = col("__cxd") - col(s"__s_$n.cxd")
      val den = lit(n.toLong) * sxx - sx * sx // n * centered Sxx (BIGINT)
      val num = lit(n.toLong) * sxd - sx * sd
      val b = num.cast("double") / den.cast("double")
      val sxxc = den.cast("double") / lit(n.toDouble)
      val sddc = sdd.cast("double") - sd.cast("double") * sd.cast("double") / lit(n.toDouble)
      val ssr = sddc - b * b * sxxc
      val tstat = when(den === 0L, lit(0.0))
        .when(ssr <= lit(0.0), signum(num).cast("double") * lit(1e308))
        .otherwise(b * sqrt(sxxc) / sqrt(ssr / lit((n - 2).toDouble)))
      // a zero-variance window has no slope: 0.0, not 0/0
      Seq(tstat.as(s"__t_$n"), when(den === 0L, lit(0.0)).otherwise(b).as(s"__b_$n"))
    }

    val projected = withLags.select(
      Seq(col("__sym"), col("__ts"), col("__tid"), col("__price"), col("__rn")) ++ ns.flatMap(windowCols): _*
    )
    val cands = array(ns.map { n =>
      struct(col(s"__t_$n").as("t"), lit(-n).as("nn"), col(s"__b_$n").as("b"), lit(n).as("n"))
    }: _*)
    projected
      // the longest backward window must fit (rn > maxWindow)
      .withColumn("__have", lag(col("__rn"), maxWindow).over(ord).isNotNull)
      .where(col("__have"))
      .withColumn("__best", array_max(cands))
      .select(
        col("__sym").as(c.symbol),
        col("__ts").as(c.ts),
        col("__price").as(c.price),
        col("__best.n").as("best_window"),
        col("__best.b").as("beta"),
        col("__best.t").as("sadf"),
      )
  }

  private def prepared(df: DataFrame, c: TradingCols): DataFrame =
    df.na.drop(Seq(c.price)).select(
      col(c.symbol).cast("string").as("__sym"),
      col(c.ts).cast("timestamp").as("__ts"),
      col(c.price).cast("double").as("__price"),
      col(c.tradeId).cast("long").as("__tid"),
    )

  /** Sign entropy (`Microstructure.signEntropy`) in declarative form.
    * The k-gram distribution is computed WITHOUT a shuffle per gram:
    * one collect per (symbol, day) group (bounded by the day's
    * ticks), then a sorted-array run-length fold — the entropy sum
    * accumulates in ascending gram order, a fixed order both engines
    * replay (the oracle uses unnest+group+ordered list_reduce).
    * 0.0 for days shorter than k ticks.
    */
  def signEntropy(df: DataFrame, c: TradingCols = TradingCols.default): DataFrame = {
    val wOrd = Window.partitionBy(col("symbol"), col("date")).orderBy(col("ts"), col("trade_id"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = df.na
      .drop(Seq(c.price))
      .select(
        col(c.symbol).cast("string").as("symbol"),
        to_date(col(c.ts)).as("date"),
        col(c.ts).as("ts"),
        round(col(c.price) * 100).cast("long").as("pc"),
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
      .withColumn("ch", when(col("sgn") > 0, lit("u")).otherwise(lit("d")))
    val grouped = base
      .groupBy(col("symbol"), col("date"))
      .agg(
        count(lit(1)).as("n_ticks"),
        array_sort(collect_list(struct(col("ts"), col("trade_id"), col("ch")))).as("ordered"),
      )
      .withColumn("msg", transform(col("ordered"), x => x.getField("ch")))
    def entropyRate(k: Int): Column = {
      val n = size(col("msg")) - lit(k - 1)
      // zip_with chain, not transform(sequence, i -> ..msg..): a
      // lambda referencing msg would re-evaluate its (inlined)
      // producing expression per element — see TextAnalysis.ngramsOfTokens
      val msg = col("msg")
      val joined = (2 to k).foldLeft(msg) { case (acc, j) =>
        zip_with(acc, slice(msg, lit(j), size(msg)), (a, b) => concat(a, b))
      }
      val g = array_sort(filter(joined, x => x.isNotNull))
      val nd = n.cast("double")
      def term(run: Column): Column =
        when(run === 0, lit(0.0)).otherwise {
          val p = run.cast("double") / nd
          -p * log(p) / lit(math.log(2.0))
        }
      val h = aggregate(
        g,
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0.0).as("acc")),
        (st, x) =>
          struct(
            x.as("prev"),
            when(x === st.getField("prev"), st.getField("run") + 1).otherwise(lit(1L)).as("run"),
            when(x === st.getField("prev"), st.getField("acc"))
              .otherwise(st.getField("acc") + term(st.getField("run"))).as("acc"),
          ),
        st => st.getField("acc") + term(st.getField("run")),
      )
      when(size(col("msg")) < k, lit(0.0)).otherwise(h / lit(k.toDouble))
    }
    grouped.select(
      col("symbol"),
      col("date"),
      col("n_ticks"),
      entropyRate(1).as("h1"),
      entropyRate(2).as("h2"),
      entropyRate(3).as("h3"),
    )
  }
}

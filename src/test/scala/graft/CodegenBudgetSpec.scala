package graft

import java.nio.file.Files
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.FracDiff
import graft.operators.{AsofJoin, Bars, ImbalanceBars, Labels}
import graft.sources.TradeData

/** Codegen working set of the tick-label job.
  *
  * Spark keeps at most 100 compiled classes
  * (`spark.sql.codegen.cache.maxEntries`, a static conf). A job whose
  * passes need more than that recompiles part of its classes with
  * Janino on every pass, and the JIT compiles them again. This suite
  * runs the ten calls of graftbench's `tick_labels` pass, with the
  * same parameters and the same observe-plus-noop emit, twice on a
  * cached `TradeData.fromEvents` frame, starting from an empty
  * codegen cache, and counts the distinct classes compiled: one per
  * (driver or executor side, generated source), since driver and
  * executors compile under different class loaders in local mode.
  */
class CodegenBudgetSpec extends SparkSpec {

  private val budget = 80

  /** A graftbench-shaped tick tape: per symbol, sorted arrival times
    * over `days` and a random-walk price in cents; ids follow time.
    */
  private def writeEvents(dir: String, ticks: Int, symbols: Int, days: Int): Unit = {
    val rnd = new scala.util.Random(1L)
    val micros0 = 1704067200000000L
    val span = days.toLong * 86400L * 1000000L
    val raw = (0 until symbols).flatMap { s =>
      val n = ticks / (s + 1) / 2 + 1
      var logP = math.log(100.0)
      Array.fill(n)((rnd.nextDouble() * span).toLong).sorted.map { t =>
        logP += 0.002 * rnd.nextGaussian()
        (micros0 + t, f"S$s%02d", math.max(1L, math.round(math.exp(logP) * 100)) / 100.0)
      }
    }.sortBy(t => (t._1, t._2))
    val rows = raw.zipWithIndex.map { case ((t, sym, px), id) =>
      Row(id.toLong, java.time.Instant.ofEpochSecond(t / 1000000L, (t % 1000000L) * 1000L),
        0L, sym, px, "{}")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("ts", TimestampType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("event_type", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false),
      StructField("props", StringType, nullable = false),
    ))
    spark.createDataFrame(rows.asJava, schema).write.parquet(s"$dir/events.parquet")
  }

  /** graftbench's emit: every column through the noop sink, with a
    * row count and an order-insensitive xxhash64 observed on the write.
    */
  private def emit(df: DataFrame): String = {
    val obs = new Observation()
    val h = xxhash64(df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType == TimestampType) unix_micros(c) else c
    }: _*)
    df.observe(obs, count(lit(1)).as("n"), sum(h.bitwiseAND(lit(0xffffffffL))).as("s"),
      bit_xor(h).as("x")).write.format("noop").mode("overwrite").save()
    val m = obs.get
    s"${m("n")}:${m("s")}:${m("x")}"
  }

  /** One tick_labels pass: op name -> fingerprint. */
  private def pass(dir: String, onOp: String => Unit): Seq[(String, String)] = {
    val t = TradeData.fromEvents(spark, dir).cache()
    def op(name: String)(df: => DataFrame): (String, String) = {
      val fp = emit(df); onOp(name); name -> fp
    }
    try Seq(
      op("read_ticks")(t),
      op("dollar_bars")(Bars.dollarBars(t, barSize = 50000.0)),
      op("volume_bars_overflow")(Bars.volumeBars(t, barSize = 500L, allowSplits = false)),
      op("imbalance_bars")(ImbalanceBars.tickImbalanceBars(t, initTicks = 50.0, alpha = 0.0)),
      op("frac_diff")(
        FracDiff
          .fracDiffChunked(t, "price", 0.5, 1e-3, "symbol", to_date(col("ts")), Seq("ts", "trade_id"))
          .select(col("symbol"), col("ts"), col("price"), col("frac_diff"))),
      op("daily_vol")(Labels.dailyVol(t, span = 100)),
      op("vertical_barrier")(Labels.verticalBarrier(t, "24 hours")),
      op("vertical_barrier_native") {
        val left = t.select(col("symbol"), col("ts"), (col("ts") + expr("INTERVAL 24 hours")).as("__off"))
        val right = t.select(col("symbol"), col("ts").as("__rts"), col("ts").as("vertical_barrier"))
        AsofJoin.asofNative(left, right, "__off", "__rts", by = Seq("symbol"), direction = AsofJoin.Forward)
          .select(col("symbol"), col("ts"), col("vertical_barrier"))
      },
      op("triple_barrier")(Labels.tripleBarrier(t, horizon = "4 hours", constTarget = Some(0.02))),
      op("uniqueness_weights") {
        val ev = t.where(col("trade_id") % 50 === 0).select(
          col("symbol"), col("ts").as("t0"), (col("ts") + expr("INTERVAL 1 HOUR")).as("t1"),
          col("trade_id").as("event_id"))
        Labels.uniquenessWeights(t, ev)
      },
    )
    finally t.unpersist(blocking = true)
  }

  test(s"two tick_labels passes compile at most $budget distinct classes") {
    val dir = Files.createTempDirectory("graft-codegen-budget").toString
    writeEvents(dir, ticks = 3000, symbols = 4, days = 3)

    val compiled = new ConcurrentLinkedQueue[(String, String)]()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val name = classOf[CodeGenerator[_, _]].getName.stripSuffix("$")
    val appender = new AbstractAppender("graft-codegen-census", null, null, true, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit = {
        val source = event.getMessage.getFormattedMessage
        if (event.getLevel == Level.DEBUG && source.contains("generate(Object[] references)")) {
          val side = if (event.getThreadName.startsWith("Executor task launch")) "executor" else "driver"
          val md5 = MessageDigest.getInstance("MD5")
            .digest(source.getBytes("UTF-8")).map("%02x".format(_)).mkString
          compiled.add(side -> md5)
        }
      }
    }
    appender.start()
    val logger = new LoggerConfig(name, Level.DEBUG, false)
    logger.addAppender(appender, Level.DEBUG, null)
    config.addLogger(name, logger)
    ctx.updateLoggers()

    // start from an empty cache, so classes other suites compiled count too
    val cacheField = CodeGenerator.getClass.getDeclaredField("cache")
    cacheField.setAccessible(true)
    val cache = cacheField.get(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)

    val perOp = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val seen = scala.collection.mutable.HashSet.empty[(String, String)]
    def attribute(op: String): Unit = {
      val before = seen.size
      seen ++= compiled.asScala
      perOp(op) = perOp.getOrElse(op, 0) + seen.size - before
    }
    val (first, second) =
      try {
        val a = pass(dir, attribute)
        val b = pass(dir, _ => ())
        (a, b)
      } finally {
        config.removeLogger(name)
        ctx.updateLoggers()
        appender.stop()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }
    seen ++= compiled.asScala
    val keys = seen.size
    info(s"distinct compiled classes over two passes: $keys (budget $budget); " +
      s"first pass by op: ${perOp.map { case (k, v) => s"$k=$v" }.mkString(", ")}")
    println(s"[codegen-budget] total=$keys ${perOp.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    assert(first == second, "fingerprints differ between passes")
    assert(keys <= budget, s"$keys distinct compiled classes exceed the budget of $budget")
  }
}

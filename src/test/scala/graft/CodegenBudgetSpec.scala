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
import graft.operators.{AsofJoin, Bars, Dedup, ImbalanceBars, Labels, Similarity, TextAnalysis}
import graft.sources.TradeData

/** Codegen working set of graftbench's two workloads.
  *
  * Spark keeps at most 100 compiled classes
  * (`spark.sql.codegen.cache.maxEntries`, a static conf). A job whose
  * passes need more than that recompiles part of its classes with
  * Janino on every pass, and the JIT compiles them again. Each case
  * runs the calls of one graftbench pass (the ten of `tick_labels` on
  * a cached `TradeData.fromEvents` frame, the six of `corpus_dedup`
  * on cached documents and embeddings), with the same parameters and
  * the same observe-plus-noop emit, twice, starting from an empty
  * codegen cache, and counts the distinct classes compiled: one per
  * (driver or executor side, generated source), since driver and
  * executors compile under different class loaders in local mode.
  * Both stay within one budget of 80: `tick_labels` compiles 63,
  * `corpus_dedup` 70 (132 before its ops moved onto keyed scans).
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

  /** Distinct classes compiled over two passes of `pass`, starting from
    * an empty codegen cache, and the first pass's per-op attribution.
    * `pass` reports each finished op through its callback and returns
    * the op fingerprints, which must repeat across the passes.
    */
  private def census(pass: (String => Unit) => Seq[(String, String)]): (Int, Seq[(String, Int)]) = {
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
        val a = pass(attribute)
        val b = pass(_ => ())
        (a, b)
      } finally {
        config.removeLogger(name)
        ctx.updateLoggers()
        appender.stop()
      }
    assert(first == second, "fingerprints differ between passes")
    seen ++= compiled.asScala
    (seen.size, perOp.toSeq)
  }

  private def check(job: String, keys: Int, perOp: Seq[(String, Int)]): Unit = {
    val ops = perOp.map { case (k, v) => s"$k=$v" }
    info(s"distinct compiled classes over two passes: $keys (budget $budget); " +
      s"first pass by op: ${ops.mkString(", ")}")
    println(s"[codegen-budget] $job total=$keys ${ops.mkString(" ")}")
    assert(keys <= budget, s"$keys distinct compiled classes exceed the budget of $budget")
  }

  test(s"two tick_labels passes compile at most $budget distinct classes") {
    val dir = Files.createTempDirectory("graft-codegen-budget").toString
    try {
      writeEvents(dir, ticks = 3000, symbols = 4, days = 3)
      val (keys, perOp) = census(onOp => pass(dir, onOp))
      check("tick_labels", keys, perOp)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  /** A graftbench-shaped corpus: documents with near-duplicate
    * families (~4% of words edited) and exact copies, and unit vectors
    * in clusters of ragged size, some of them near-copies of an earlier
    * member.
    */
  private def writeCorpus(dir: String, docs: Int, vectors: Int, dim: Int): Unit = {
    val rnd = new scala.util.Random(2L)
    val vocab = Array.tabulate(3000)(i => s"w${Integer.toString(i * 7919 % 3000, 36)}")
    def word(): String = vocab(math.min(vocab.length - 1, (math.exp(rnd.nextDouble() * 8) - 1).toInt))
    val texts = new Array[String](docs)
    for (i <- 0 until docs) {
      val u = rnd.nextDouble()
      texts(i) =
        if (i > 0 && u < 0.03) texts(rnd.nextInt(i))
        else if (i > 0 && u < 0.23)
          texts(rnd.nextInt(i)).split(" ").map(w => if (rnd.nextDouble() < 0.04) word() else w).mkString(" ")
        else Seq.fill(20 + rnd.nextInt(120))(word()).mkString(" ")
    }
    val docRows = texts.indices.map { i =>
      Row(i.toLong, texts(i), Seq("en", "de", "fr")(i % 3), s"src${i % 8}", texts(i).length.toLong)
    }
    spark.createDataFrame(docRows.asJava, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false),
    ))).write.parquet(s"$dir/documents.parquet")

    def unit(v: Array[Double]): Array[Double] = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val centers = Array.fill(vectors / 200)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val vecs = new Array[Array[Float]](vectors)
    for (i <- 0 until vectors) {
      val c = centers((centers.length * math.pow(rnd.nextDouble(), 2)).toInt)
      val v =
        if (i > 0 && rnd.nextDouble() < 0.05) vecs(rnd.nextInt(i)).map(x => x + 0.03 * rnd.nextGaussian() / math.sqrt(dim))
        else Array.tabulate(dim)(x => c(x) + 0.8 * rnd.nextGaussian() / math.sqrt(dim))
      vecs(i) = unit(v.map(_.toDouble)).map(_.toFloat)
    }
    val ids = rnd.shuffle((0 until vectors).toVector)
    val embRows = (0 until vectors).map(i => Row(ids(i).toLong, vecs(i).toSeq, i % 7))
    spark.createDataFrame(embRows.asJava, StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("label", IntegerType, nullable = false),
    ))).write.parquet(s"$dir/embeddings.parquet")
  }

  /** One corpus_dedup pass: op name -> fingerprint(s). */
  private def corpusPass(dir: String, onOp: String => Unit): Seq[(String, String)] = {
    var d: DataFrame = null
    var e: DataFrame = null
    def op(name: String)(dfs: => Seq[DataFrame]): (String, String) = {
      val fp = dfs.map(emit).mkString("+"); onOp(name); name -> fp
    }
    Seq(
      op("read_corpus") {
        d = spark.read.parquet(s"$dir/documents.parquet").cache()
        e = spark.read.parquet(s"$dir/embeddings.parquet").cache()
        Seq(d)
      },
      op("dedup_exact")(Seq(Dedup.exact(d))),
      op("dedup_minhash")(Seq(Dedup.minhashLsh(d, threshold = 0.5))),
      op("text_quality")(Seq(
        TextAnalysis.gopherFilter(d),
        d.select(
          col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.tokenCounts(col("text")).getField("bpe_tokens").as("bpe_tokens"),
          TextAnalysis.langId(col("text")).as("lang_pred")),
      )),
      op("semantic_dedup")(Seq(Similarity.semanticDedup(e))),
      op("ann_ivf_topk")(Seq(Similarity.ivfTopK(e))),
    )
  }

  // 66,000 vectors, as graftbench: semanticDedup's N/256 and ivfTopK's
  // sqrt(N) cell counts both pass 256, so the tiled paths run
  test(s"two corpus_dedup passes compile at most $budget distinct classes") {
    val dir = Files.createTempDirectory("graft-codegen-budget").toString
    try {
      writeCorpus(dir, docs = 2000, vectors = 66000, dim = 32)
      val (keys, perOp) = census(onOp => corpusPass(dir, onOp))
      check("corpus_dedup", keys, perOp)
    } finally {
      spark.catalog.clearCache()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}

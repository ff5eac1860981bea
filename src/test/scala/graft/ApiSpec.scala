package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.TradingCols
import graft.operators.Bars
import graft.sources.{TradeData, TradeStore}

/** API-surface specs: column-name config, synthetic source, SQL
  * function registration, partitioned store.
  */
class ApiSpec extends SparkSpec {

  test("operators honor custom column names (reference Config analog)") {
    val df = TradeData
      .synthetic(spark, nRows = 500, nSymbols = 2)
      .withColumnRenamed("symbol", "ticker")
      .withColumnRenamed("ts", "event_time")
      .withColumnRenamed("price", "px")
      .withColumnRenamed("size", "qty")
    val c = TradingCols(symbol = "ticker", ts = "event_time", price = "px", size = "qty")
    val bars = Bars.tickBars(df, barSize = 50, c = c)
    assert(bars.columns.head == "ticker")
    assert(bars.count() > 0)
    val defaultBars = Bars.tickBars(
      TradeData.synthetic(spark, nRows = 500, nSymbols = 2), barSize = 50)
    assert(bars.agg(sum("volume")).head.getLong(0) ==
      defaultBars.agg(sum("volume")).head.getLong(0))
  }

  test("SQL-session column config: SET graft.*_col drives TradingCols") {
    spark.sql("SET graft.price_col=px")
    spark.sql("SET graft.size_col=qty")
    try {
      val c = TradingCols.fromSession(spark)
      // overridden keys read the session conf; unset keys keep defaults
      assert(c.price == "px" && c.size == "qty")
      assert(c.symbol == "symbol" && c.ts == "ts" && c.tradeId == "trade_id")
      val df = TradeData
        .synthetic(spark, nRows = 500, nSymbols = 2)
        .withColumnRenamed("price", "px")
        .withColumnRenamed("size", "qty")
      val bars = Bars.tickBars(df, barSize = 50, c = c)
      val defaultBars = Bars.tickBars(
        TradeData.synthetic(spark, nRows = 500, nSymbols = 2), barSize = 50)
      assert(bars.agg(sum("volume")).head.getLong(0) ==
        defaultBars.agg(sum("volume")).head.getLong(0))
    } finally {
      spark.sql("RESET graft.price_col")
      spark.sql("RESET graft.size_col")
    }
    // after RESET the session config is back to all-defaults
    assert(TradingCols.fromSession(spark) == TradingCols.default)
  }

  test("a garbage byte-count setting fails with an error that names its key") {
    val df = graft.sources.TradeData.synthetic(spark, 10)
    for ((key, call) <- Seq[(String, () => Any)](
        "spark.graft.barrierGateBytes" -> (() => graft.sources.Checkpoint.tableGated(df, "gate")),
        "spark.graft.shingleBarrierLeafBytes" -> (() => graft.operators.Dedup.shingleBarrierLeafBytes),
      )) {
      spark.conf.set(key, "2GiB")
      try {
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(key) && e.getMessage.contains("2GiB"), e.getMessage)
      } finally spark.conf.unset(key)
    }
  }

  test("synthetic trade generator is deterministic") {
    val a = TradeData.synthetic(spark, 200, 3).collect()
    val b = TradeData.synthetic(spark, 200, 3).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length == 200)
  }

  test("SQL functions register and evaluate") {
    GraftExtensions.register(spark)
    val dot = spark
      .sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head()
      .getDouble(0)
    assert(dot == 11.0)
    val sig = spark
      .sql("SELECT graft_minhash_sig(graft_shingle_hashes('hello world contents', 5), 4) AS s")
      .head()
      .getSeq[Long](0)
    assert(sig.length == 4 && sig.forall(_ >= 0))
    // SQL path must equal the Column-API path
    val viaSql = spark
      .sql("SELECT graft_hash_strings(array('a', 'b', 'a')) AS h")
      .head()
      .getSeq[Long](0)
    assert(viaSql.length == 2)
    val sh = spark
      .sql("SELECT graft_simhash(array('alpha', 'beta'), 60) AS s")
      .head()
      .getLong(0)
    val viaCol = {
      import spark.implicits._
      Seq(Tuple1(Seq("alpha", "beta")))
        .toDF("toks")
        .select(graft.functions.TextExprs.simhash(org.apache.spark.sql.functions.col("toks"), 60).as("s"))
        .head()
        .getLong(0)
    }
    assert(sh == viaCol && sh >= 0)
    val cleaned = spark
      .sql("SELECT graft_clean_text('go to https://x.io/a now') AS c").head().getString(0)
    assert(cleaned == "go to now")
    val masked = spark
      .sql("SELECT graft_mask_pii('mail a@b.example.net or call 555-123-9876') AS m")
      .head().getString(0)
    assert(masked == "mail <EMAIL> or call <PHONE>")
    val bucket = spark
      .sql("SELECT graft_hash_bucket('42', 'graft') AS b").head().getLong(0)
    val viaApi = {
      import spark.implicits._
      Seq(Tuple1(42L)).toDF("k")
        .select(graft.operators.Sampling.hashBucket(org.apache.spark.sql.functions.col("k"), "graft").as("b"))
        .head().getLong(0)
    }
    assert(bucket == viaApi && bucket >= 0 && bucket < 10000)
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("native expressions equal their HOF formulations") {
    import graft.functions.{TextExprs, VectorExprs}
    import graft.operators.{Dedup, TextAnalysis}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    // shingle hashing: native vs charShingles+shingleHashes HOFs
    val normed = docs
      .select(col("doc_id"), TextAnalysis.normText(col("text")).as("n"))
      .persist()
    normed.count()
    val cmp = normed
      .select(
        col("doc_id"),
        array_sort(TextExprs.shingleHashes(col("n"), 5)).as("native"),
        array_sort(array_distinct(Dedup.shingleHashes(Dedup.charShingles(col("n"), 5)))).as("hof"),
      )
      .where(col("native") =!= col("hof"))
    assert(cmp.count() == 0)
    normed.unpersist()
    // simhash: native single-pass vs 60 HOF votes
    val scmp = docs
      .select(
        Dedup.simhash(col("text")).as("native"),
        Dedup.simhashHof(col("text")).as("hof"),
      )
      .where(col("native") =!= col("hof"))
    assert(scmp.count() == 0)
    // dot product: native vs aggregate/zip_with
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    val hofDot = aggregate(
      zip_with(col("embedding"), col("embedding"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v,
    )
    val dcmp = emb
      .select(VectorExprs.dotNative(col("embedding"), col("embedding")).as("n"), hofDot.as("h"))
      .where(col("n") =!= col("h"))
    assert(dcmp.count() == 0)
  }

  test("dailyVol handles single-security frames without a symbol column") {
    import graft.operators.Labels
    val df = graft.sources.TradeData.synthetic(spark, 300, 1).drop("symbol")
    val out = Labels.dailyVol(df, span = 5)
    assert(!out.columns.contains("symbol"))
    assert(out.count() == 300)
  }

  test("trade store partitions by date/symbol and prunes on read") {
    val dir = Files.createTempDirectory("graft-store").toString
    val trades = TradeData.synthetic(spark, 2000, 3)
    TradeStore.write(trades, dir)
    val back = TradeStore.read(spark, dir)
    assert(back.count() == 2000)
    // partition pruning: filter on the partition column must reach
    // the file index, not the row scan
    val oneSym = back.where(col("symbol") === "SYM0")
    val plan = oneSym.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("symbol"))
    assert(oneSym.count() == trades.where(col("symbol") === "SYM0").count())
    // round-trip values survive (modulo partition column position)
    val total = back.agg(sum("size")).head.getLong(0)
    assert(total == trades.agg(sum("size")).head.getLong(0))
  }
}

package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.TradingCols

/** Trade-tick sources.
  *
  * The reference generates synthetic ticks via mimesis
  * (/root/reference/polars_trading/_testing/data.py:9). Here the
  * driver-provided `events` table doubles as the tick stream:
  * symbol=event_type, price=value, ts=ts, and a deterministic integer
  * size derived from event_id (events carries no size column). The
  * same derivation is used in the DuckDB oracle SQL so both engines
  * see identical trades.
  */
object TradeData {

  /** Normalize a driver-written `ts` column to micro-precision
    * `TimestampType` whose epoch micros equal the parquet's stored
    * wall-clock value — bit-identical to DuckDB's naive
    * `ts::TIMESTAMP`, independent of the Spark session timezone.
    *
    * The driver has shipped (at least) three encodings across
    * regenerations; the engine must be total over all of them:
    *   - TIMESTAMP(NANOS): Spark 4 only reads it via the
    *     `nanosAsLong` legacy conf → LongType nanos, truncate to µs;
    *   - µs, isAdjustedToUTC=false → TIMESTAMP_NTZ under Spark 4's
    *     inferTimestampNTZ default: wall clock ≡ UTC. timestampdiff
    *     on NTZ subtracts raw internal micros, so the conversion
    *     never touches the session timezone (a cast NTZ→TZ would);
    *   - µs, UTC-adjusted → TimestampType, already epoch micros.
    */
  def normalizeTs(df: DataFrame, name: String = "ts"): Column =
    df.schema(name).dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr(s"$name div 1000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_micros(
          expr(s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', $name)"))
      case org.apache.spark.sql.types.TimestampType => col(name)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported ts encoding $other for column $name — extend TradeData.normalizeTs")
    }

  /** `events.parquet` → canonical trades view.
    *
    * Timestamps arrive in whatever encoding the driver's current
    * generator used (see [[normalizeTs]]); the oracle casts
    * `ts::TIMESTAMP` to get the identical µs truncation in DuckDB.
    *
    * Layout: the tape is hash-clustered by symbol (one hash exchange
    * on `symbol` over the session's shuffle partitions, no sort).
    * Cache it once and the per-symbol ops (bars, imbalance bars,
    * daily vol, the as-of join, the barrier, frac-diff, rolling and
    * uniqueness scans) run on its partitions with no exchange of their
    * own. Hash, not round-robin, so a retried task reads the same rows;
    * not range, so building the plan runs no sampling job.
    */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val c = TradingCols.default
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Zero-price ticks are dropped at the source: a price of exactly 0
    // is not a trade, and every downstream return/label/dollar-bar
    // operator divides by price (Spark 4 ANSI mode aborts the job on
    // 0-division; the reference's pandas oracle silently produces inf).
    // The oracle CTE below applies the identical predicate so both
    // engines see the same tick stream.
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val tsCol = normalizeTs(raw)
    raw
      .where(col("value").isNotNull && col("value") =!= 0)
      .select(
        col("event_type").as(c.symbol),
        tsCol.as(c.ts),
        col("value").as(c.price),
        (col("event_id") % 97 + 1).as(c.size),
        col("event_id").as(c.tradeId),
      )
      .repartition(col(c.symbol))
  }

  /** `events.parquet` with `ts` normalized to micro-precision
    * timestamps (nanos parquet → truncated, like DuckDB's
    * `ts::TIMESTAMP`), no row filter — the raw clickstream for
    * sessionization and other event-level operators.
    */
  def rawEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.withColumn("ts", normalizeTs(raw))
  }

  /** DuckDB-side definition of the identical trades view (CTE body). */
  val oracleTradesCte: String =
    """trades AS (
      |  SELECT event_type AS symbol,
      |         CAST(ts AS TIMESTAMP) AS ts,
      |         value AS price,
      |         (event_id % 97 + 1) AS size,
      |         event_id AS trade_id
      |  FROM events WHERE value IS NOT NULL AND value <> 0
      |)""".stripMargin

  /** CSV trade source (another wire format for the same trades view;
    * header row, ISO timestamps). Columns: symbol,ts,price,size,trade_id.
    */
  def fromCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema("symbol STRING, ts TIMESTAMP, price DOUBLE, size LONG, trade_id LONG")
      .csv(path)

  /** ORC trade source (the third columnar wire format next to parquet
    * and CSV; Spark's built-in ORC reader, same pushdown/pruning
    * surface). Expects the canonical trades schema.
    */
  def fromOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Deterministic synthetic trade generator (counterpart of the
    * reference's `generate_trade_data`): nRows ticks across
    * nSymbols, seeded — used by ScalaTests, never by the oracle
    * queries (those read the driver's parquet).
    */
  def synthetic(
      spark: SparkSession,
      nRows: Int,
      nSymbols: Int = 3,
      seed: Long = 42L,
  ): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val symbols = Array.tabulate(nSymbols)(i => s"SYM$i")
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val rows = (0 until nRows).map { i =>
      val tsMicros =
        (base + rnd.nextInt(30 * 24 * 3600) * 1000L) * 1000L + rnd.nextInt(1000000)
      (
        symbols(rnd.nextInt(nSymbols)),
        new java.sql.Timestamp(tsMicros / 1000L),
        1.0 + rnd.nextInt(9900) / 100.0,
        (rnd.nextInt(97) + 1).toLong,
        i.toLong,
      )
    }
    rows.toDF("symbol", "ts", "price", "size", "trade_id")
  }
}

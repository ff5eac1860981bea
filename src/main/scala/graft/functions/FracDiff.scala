package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-window fractional differentiation (FFD, AFML ch.5).
  *
  * Matches the reference kernel (/root/reference/src/frac_diff.rs:7):
  * weights w_0 = 1, w_k = -w_{k-1} * (d - k + 1) / k until
  * |w_k| < threshold; output_i = Σ_k w_k * price_{i-k}, null while
  * fewer than n_w prices precede.
  *
  * The weight vector is data-independent and tiny (d=0.5, 1e-3 →
  * ~30 weights), so it is computed on the driver and inlined as
  * literals into a codegen'd Σ w_k·lag_k window expression — one
  * shuffle on the partition keys, no sequential kernel.
  */
object FracDiff {

  def weights(d: Double, threshold: Double): Array[Double] = {
    val buf = scala.collection.mutable.ArrayBuffer(1.0)
    var k = 1.0
    var wk = -buf.last / k * (d - k + 1.0)
    while (math.abs(wk) >= threshold) {
      buf += wk
      k += 1.0
      wk = -buf.last / k * (d - k + 1.0)
    }
    buf.toArray // w(k) multiplies lag k (reference reverses instead and dots ascending windows)
  }

  /** frac_diff of `value` over a per-`partitionCols` time ordering. */
  def fracDiff(
      value: Column,
      d: Double,
      threshold: Double,
      partitionCols: Seq[Column],
      orderCols: Seq[Column],
  ): Column = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    val ws = weights(d, threshold)
    val terms = ws.zipWithIndex.map { case (wk, k) =>
      if (k == 0) lit(wk) * value else lit(wk) * lag(value, k).over(w)
    }
    val dot = terms.reduceLeft(_ + _)
    when(row_number().over(w) >= ws.length, dot)
  }

  /** Halo-chunked FFD: identical values to [[fracDiff]] (the per-row
    * dot multiplies the same lags by the same weight literals in the
    * same left-to-right order — bit-identical doubles, pinned in
    * ScalaTest), but parallelism is symbol × chunk instead of one
    * sorted window per symbol: the state a chunk needs from its past
    * is exactly the previous n_w−1 values, so per-chunk tail
    * summaries (≤ n_w−1 doubles each) are folded per symbol into
    * carry-ins (a metadata-sized pass) and each chunk scans
    * independently seeded with its carry. Three keyed scans in one plan: tails per
    * (symbol, chunk), carries per symbol, the FFD per (symbol, chunk).
    *
    * The carry reaches its chunk as ONE sentinel row unioned ahead of
    * the chunk's data (sorted first via a 0/1 flag), not as a joined
    * per-row column: a left join would attach the n_w−1-double array
    * to every fact row, and at 100M rows the per-row deserialization
    * of that boxed array dominated GC (the measured sf100 superlinear
    * step). No scan boxes a row: primitive rings, rows written straight
    * into UnsafeRow buffers.
    */
  def fracDiffChunked(
      df: org.apache.spark.sql.DataFrame,
      valueCol: String,
      d: Double,
      threshold: Double,
      symbolCol: String,
      chunkCol: Column,
      orderCols: Seq[String],
      outCol: String = "frac_diff",
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import graft.plans.{KeyedScan, ScanKernel, ScanOut}
    val ws = weights(d, threshold)
    val nW = ws.length
    val fields = df.schema.fields
    val m = fields.length
    val symIdx = df.schema.fieldIndex(symbolCol)
    val valIdx = df.schema.fieldIndex(valueCol)
    val symType = fields(symIdx).dataType
    val chunkType = df.select(chunkCol).schema(0).dataType
    val carryType = ArrayType(DoubleType, containsNull = false)
    val keys = Seq(col(symbolCol), chunkCol)

    // Scale-adaptive partition count for the two corpus exchanges
    // (guide §2.2 — the dedup family's §6r lesson applied here): the
    // suite pins shuffle.partitions = cores, which at 1B ticks sorts
    // tens of GB of rows into 32 per-partition spilling sorts — the
    // r18 A/B measured the boxed-Row fix alone moving sf100 only
    // 130 → 125 s because the spill, not the decode, was the
    // remaining wall. Sized from ROWS × schema default width, not
    // plan-stats bytes: the events parquet is snappy-compressed
    // ~10-20× so file-size stats under-estimate sort bytes that
    // badly. The row count comes from one zero-column metadata-cheap
    // count, gated behind a 256 MiB file-bytes threshold so small
    // corpora (every oracle/suite shape) skip the count and keep
    // byte-identical plans. `None` when the session default
    // suffices; the target is 128 MiB per exchange partition.
    val fdParts: Option[Int] = {
      val spark0 = df.sparkSession
      val default = scala.util.Try(spark0.conf.get("spark.sql.shuffle.partitions").toInt)
        .getOrElse(spark0.sparkContext.defaultParallelism)
      val target = 128L << 20
      val leafBytes = df.queryExecution.optimizedPlan.collectLeaves()
        .map(_.stats.sizeInBytes).sum
      if (leafBytes <= (256L << 20)) None
      else {
        val rows = df.count()
        val width = math.max(16, df.schema.defaultSize + 8)
        val n = (BigInt(rows) * width / target).min(8192).toInt
        if (n > default) Some(n) else None
      }
    }

    // pass 1: per-chunk tails (last <= nW-1 values, NaN for nulls)
    val tails = KeyedScan(df, keys, orderCols.map(col), StructType(Seq(
      StructField(symbolCol, symType), StructField("__chunk", chunkType),
      StructField("__tail", carryType, nullable = false))), fdParts, keyOut = Seq(symbolCol, "__chunk")) { () =>
      new ScanKernel {
        private val cap = math.max(nW - 1, 1)
        private val ring = new Array[Double](cap)
        private var len, pos = 0
        private var key: InternalRow = null
        def reset(k: InternalRow): Unit = { key = k; len = 0; pos = 0 }
        def step(row: InternalRow, o: ScanOut): Unit = if (nW > 1) {
          ring(pos) = if (row.isNullAt(valIdx)) Double.NaN else row.getDouble(valIdx)
          pos = (pos + 1) % cap
          if (len < cap) len += 1
        }
        def flush(o: ScanOut): Unit = {
          val t = new Array[Double](len)
          var i = 0
          while (i < len) { t(i) = ring(((pos - len + i) % cap + cap) % cap); i += 1 }
          o.begin()
          o.copy(0, key, 0, symType); o.copy(1, key, 1, chunkType); o.array(2, t)
          o.emit()
        }
      }
    }

    // pass 2: per-symbol fold of tails -> carry-ins (chunk-ordered),
    // written as pass 3's sentinel rows: the data columns null but the
    // symbol, then (__chunk, __carry, __sent = 0)
    val sentinels = KeyedScan(tails, Seq(col(symbolCol)), Seq(col("__chunk")), StructType(
      fields.map(_.copy(nullable = true)).toSeq ++ Seq(StructField("__chunk", chunkType),
        StructField("__carry", carryType), StructField("__sent", IntegerType))), keyOut = Seq(symbolCol)) { () =>
      new ScanKernel {
        private var carry: Vector[Double] = Vector.empty
        def reset(k: InternalRow): Unit = carry = Vector.empty
        def step(row: InternalRow, o: ScanOut): Unit = {
          val w = o.begin()
          var i = 0
          while (i < m) { if (i == symIdx) o.copy(i, row, 0, symType) else w.setNullAt(i); i += 1 }
          o.copy(m, row, 1, chunkType)
          o.array(m + 1, carry.toArray)
          w.write(m + 2, 0)
          o.emit()
          carry = (carry ++ row.getArray(2).toDoubleArray()).takeRight(nW - 1)
        }
        def flush(o: ScanOut): Unit = ()
      }
    }

    // pass 3: per-chunk scan seeded with the carry. The carry arrives
    // as a sentinel row (__sent=0, sorted ahead of its chunk's data)
    // so no fact row ever materializes the carry array.
    val arranged = df
      .select(col("*"), chunkCol.as("__chunk"), lit(null).cast(carryType).as("__carry"), lit(1).as("__sent"))
      .union(sentinels)
    KeyedScan(arranged, Seq(col(symbolCol), col("__chunk")), col("__sent") +: orderCols.map(col),
      StructType(fields.toSeq :+ StructField(outCol, DoubleType, nullable = true)), fdParts,
      keyOut = Seq(symbolCol)) { () =>
      new ScanKernel {
        private val ring = new Array[Double](nW) // ring(0)=current, grows backward
        private var hist = 0L // values preceding the current row (uncapped count, capped seed)
        private var pos = 0
        def reset(k: InternalRow): Unit = { java.util.Arrays.fill(ring, Double.NaN); pos = 0; hist = 0L }
        def step(row: InternalRow, o: ScanOut): Unit =
          if (row.getInt(m + 2) == 0) {
            // sentinel: seed so that "index (pos - k) mod nW" is lag k
            // of the current row — the last carry value is lag 1 of the
            // chunk's first data row
            if (!row.isNullAt(m + 1)) {
              val carry = row.getArray(m + 1).toDoubleArray()
              val n = carry.length
              var back = 0
              while (back < n) {
                ring(((pos - 1 - back) % nW + nW) % nW) = carry(n - 1 - back)
                back += 1
              }
              hist = n.toLong
            }
          } else {
            ring(pos) = if (row.isNullAt(valIdx)) Double.NaN else row.getDouble(valIdx)
            val w = o.begin()
            var i = 0
            while (i < m) { o.copy(i, row, i, fields(i).dataType); i += 1 }
            if (hist + 1 < nW) w.setNullAt(m)
            else {
              var acc = 0.0
              var k = 0
              var bad = false
              while (k < nW && !bad) {
                val v = ring(((pos - k) % nW + nW) % nW)
                if (v.isNaN) bad = true else acc += ws(k) * v
                k += 1
              }
              if (bad) w.setNullAt(m) else w.write(m, acc)
            }
            o.emit()
            pos = (pos + 1) % nW
            hist += 1
          }
        def flush(o: ScanOut): Unit = ()
      }
    }
  }

  /** The same dot product as ANSI SQL for the DuckDB oracle, with the
    * identical weight literals and left-to-right addition order so
    * float results are bit-identical.
    */
  def oracleSqlExpr(
      valueCol: String,
      d: Double,
      threshold: Double,
      partitionBy: String,
      orderBy: String,
  ): String = {
    val ws = weights(d, threshold)
    val over = s"OVER (PARTITION BY $partitionBy ORDER BY $orderBy)"
    val terms = ws.zipWithIndex.map { case (wk, k) =>
      if (k == 0) s"($wk) * $valueCol"
      else s"($wk) * lag($valueCol, $k) $over"
    }
    s"CASE WHEN row_number() $over >= ${ws.length} THEN ${terms.mkString(" + ")} END"
  }
}

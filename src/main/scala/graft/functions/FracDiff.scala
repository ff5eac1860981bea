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
    * carry-ins (metadata-sized pass, same shape as
    * Ewm.stdOverKeyChunked) and each chunk scans independently seeded
    * with its carry.
    *
    * The carry reaches its chunk as ONE sentinel row unioned ahead of
    * the chunk's data (sorted first via a 0/1 flag), not as a joined
    * per-row column: a left join would attach the n_w−1-double array
    * to every fact row, and at 100M rows the per-row deserialization
    * of that boxed array dominated GC (the measured sf100 superlinear
    * step). Both scan passes are allocation-free per row — primitive
    * rings, direct field compares, one output array per emitted row.
    */
  /** Copy an internal value out of a reused InternalRow buffer (keys
    * held across rows; tail rows buffered to partition end).
    */
  private def copyVal(v: Any): Any = v match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.copy()
    case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
    case r: org.apache.spark.sql.catalyst.InternalRow => r.copy()
    case other => other
  }

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
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val ws = weights(d, threshold)
    val nW = ws.length

    val chunked = graft.sources.Checkpoint.tableGated(df.withColumn("__chunk", chunkCol), "fd-chunked")
    val groupCols = Seq(symbolCol, "__chunk")

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
    // count on the checkpointed table, gated behind a 256 MiB
    // file-bytes threshold so small corpora (every oracle/suite
    // shape) skip the count and keep byte-identical plans. `None`
    // when the session default suffices; the target is 128 MiB per
    // exchange partition.
    val fdParts: Option[Int] = {
      val spark0 = chunked.sparkSession
      val default = scala.util.Try(spark0.conf.get("spark.sql.shuffle.partitions").toInt)
        .getOrElse(spark0.sparkContext.defaultParallelism)
      val target = 128L << 20
      val leafBytes = chunked.queryExecution.optimizedPlan.collectLeaves()
        .map(_.stats.sizeInBytes).sum
      if (leafBytes <= (256L << 20)) None
      else {
        val rows = chunked.count()
        val width = math.max(16, chunked.schema.defaultSize)
        val n = (BigInt(rows) * width / target).min(8192).toInt
        if (n > default) Some(n) else None
      }
    }
    def repart(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      fdParts match {
        case Some(n) => d.repartition(n, groupCols.map(col): _*)
        case None => d.repartition(groupCols.map(col): _*)
      }

    // pass 1 only reads (keys, order, value) — project BEFORE the
    // exchange (guide §2.3): the full-width form shuffled every fact
    // column twice (here and again in pass 3)
    val slimCols = (groupCols ++ orderCols :+ valueCol).distinct
    val sorted = repart(chunked.select(slimCols.map(col): _*))
      .sortWithinPartitions((groupCols ++ orderCols).map(col): _*)
    val keyIdx0 = sorted.schema.fieldIndex(symbolCol)
    val keyIdx1 = sorted.schema.fieldIndex("__chunk")
    val valIdx = sorted.schema.fieldIndex(valueCol)
    val keyDt0 = sorted.schema(keyIdx0).dataType
    val keyDt1 = sorted.schema(keyIdx1).dataType

    // pass 1: per-chunk tails (last <= nW-1 values, NaN for nulls).
    // InternalRow pass — the external-Row encoder boxed every column
    // of every row (timestamps/strings/doubles), the measured GC term
    // of the sf100 decade step (§6t; r17 verdict #8).
    val tailSchema = StructType(
      groupCols.map(n => sorted.schema(n)) :+
        StructField("__tail", ArrayType(DoubleType, containsNull = false), nullable = false)
    )
    val tailsRdd = sorted.queryExecution.toRdd.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      val cap = math.max(nW - 1, 1)
      val ring = new Array[Double](cap)
      var len = 0
      var pos = 0
      var started = false
      var k0: Any = null
      var k1: Any = null
      def flush(): Unit = if (started) {
        val t = new Array[Double](len)
        var i = 0
        while (i < len) { t(i) = ring(((pos - len + i) % cap + cap) % cap); i += 1 }
        out += new GenericInternalRow(Array[Any](k0, k1, new GenericArrayData(t)))
      }
      it.foreach { row =>
        val a = if (row.isNullAt(keyIdx0)) null else row.get(keyIdx0, keyDt0)
        val b = if (row.isNullAt(keyIdx1)) null else row.get(keyIdx1, keyDt1)
        if (!started || a != k0 || b != k1) {
          flush(); started = true; k0 = copyVal(a); k1 = copyVal(b); len = 0; pos = 0
        }
        if (nW > 1) {
          ring(pos) = if (row.isNullAt(valIdx)) Double.NaN else row.getDouble(valIdx)
          pos = (pos + 1) % cap
          if (len < cap) len += 1
        }
      }
      flush()
      out.iterator
    }
    val tails = ColumnBridge.ofInternalRows(spark, tailsRdd, tailSchema)

    // pass 2: per-symbol fold of tails -> carry-ins (chunk-ordered)
    val carries = tails
      .repartition(col(symbolCol))
      .sortWithinPartitions(groupCols.map(col): _*)
      .mapPartitions { it =>
        var curSym: Any = null
        var carry: Vector[Double] = Vector.empty
        it.map { s =>
          val sym = s.get(0)
          if (sym != curSym) { curSym = sym; carry = Vector.empty }
          val row = Row.fromSeq(Seq(s.get(0), s.get(1), carry))
          carry = (carry ++ s.getSeq[Double](2)).takeRight(nW - 1)
          row
        }
      }(Encoders.row(StructType(
        groupCols.map(n => sorted.schema(n)) :+
          StructField("__carry", ArrayType(DoubleType, containsNull = false), nullable = false)
      )))

    // pass 3: per-chunk scan seeded with the carry. The carry arrives
    // as a sentinel row (__sent=0, sorted ahead of its chunk's data)
    // so no fact row ever materializes the carry array.
    val carryType = ArrayType(DoubleType, containsNull = false)
    val dataSide = chunked
      .withColumn("__carry", lit(null).cast(carryType))
      .withColumn("__sent", lit(1))
    val sentSide = carries.select(
      chunked.schema.fieldNames.map { n =>
        if (n == symbolCol || n == "__chunk") col(n)
        else lit(null).cast(chunked.schema(n).dataType).as(n)
      }.toSeq :+ col("__carry") :+ lit(0).as("__sent"): _*)
    val arranged = repart(dataSide.unionByName(sentSide))
      .sortWithinPartitions(
        (groupCols.map(col) :+ col("__sent")) ++ orderCols.map(col): _*)
    val aSchema = arranged.schema
    val aK0 = aSchema.fieldIndex(symbolCol)
    val aK1 = aSchema.fieldIndex("__chunk")
    val aVal = aSchema.fieldIndex(valueCol)
    val aCarry = aSchema.fieldIndex("__carry")
    val aSent = aSchema.fieldIndex("__sent")
    val aKeyDt0 = aSchema(aK0).dataType
    val aKeyDt1 = aSchema(aK1).dataType
    val keepIdx = chunked.schema.fieldNames.filter(_ != "__chunk").map(aSchema.fieldIndex)
    val keepDts = keepIdx.map(aSchema.fields(_).dataType)
    val nKeep = keepIdx.length
    val outSchema = StructType(
      keepIdx.map(aSchema.fields(_)).toSeq :+ StructField(outCol, DoubleType, nullable = true)
    )

    // InternalRow scan (same GC rationale as pass 1): values are
    // fetched internally and serialized through one UnsafeProjection
    // per partition — no boxed Row, no per-column object churn
    val outRdd = arranged.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(outSchema)
      val outVals = new Array[Any](nKeep + 1)
      val outRow = new GenericInternalRow(outVals)
      var started = false
      var k0: Any = null
      var k1: Any = null
      val ring = new Array[Double](nW) // ring(0)=current, grows backward
      var hist = 0L // values preceding the current row (uncapped count, capped seed)
      var pos = 0
      it.flatMap { row =>
        val a = if (row.isNullAt(aK0)) null else row.get(aK0, aKeyDt0)
        val b = if (row.isNullAt(aK1)) null else row.get(aK1, aKeyDt1)
        if (!started || a != k0 || b != k1) {
          started = true; k0 = copyVal(a); k1 = copyVal(b)
          java.util.Arrays.fill(ring, Double.NaN)
          pos = 0
          hist = 0L
        }
        if (row.getInt(aSent) == 0) {
          // sentinel: seed so that "index (pos - k) mod nW" is lag k
          // of the current row — the last carry value is lag 1 of the
          // chunk's first data row
          if (!row.isNullAt(aCarry)) {
            val carry = row.getArray(aCarry).toDoubleArray()
            val n = carry.length
            var back = 0
            while (back < n) {
              ring(((pos - 1 - back) % nW + nW) % nW) = carry(n - 1 - back)
              back += 1
            }
            hist = n.toLong
          }
          None
        } else {
          val x = if (row.isNullAt(aVal)) Double.NaN else row.getDouble(aVal)
          ring(pos) = x
          val out: Any =
            if (hist + 1 < nW) null
            else {
              var acc = 0.0
              var k = 0
              var bad = false
              while (k < nW && !bad) {
                val v = ring(((pos - k) % nW + nW) % nW)
                if (v.isNaN) bad = true else acc += ws(k) * v
                k += 1
              }
              if (bad) null else acc
            }
          pos = (pos + 1) % nW
          hist += 1
          var i = 0
          while (i < nKeep) {
            outVals(i) = if (row.isNullAt(keepIdx(i))) null else row.get(keepIdx(i), keepDts(i))
            i += 1
          }
          outVals(nKeep) = out
          // proj copies the values into its UnsafeRow buffer before
          // the next input row is read; downstream operators copy if
          // they buffer (the CellScoreExec contract)
          Some(proj(outRow): InternalRow)
        }
      }
    }
    ColumnBridge.ofInternalRows(spark, outRdd, outSchema)
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

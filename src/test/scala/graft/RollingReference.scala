package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.api.TradingCols

/** The day-chunk + halo form that `Rolling.features`/`featuresMulti`
  * replaced with one per-symbol keyed scan, kept as the reference the
  * scan is pinned against. Rows are chunked by (symbol, calendar day);
  * the previous day's tail within the largest window is copied into
  * each chunk as context rows, so a chunk computes alone. Columns are
  * `rolling_<stat><suffix>` per (suffix, window micros); every window
  * must be <= 1 day. A null ts makes it fail (its chunk is null).
  */
object RollingReference {

  def haloChunked(
      df: DataFrame,
      specs: Seq[(String, Long)],
      c: TradingCols,
  ): DataFrame = {
    val day = 86400000000L
    val mMax = specs.map(_._2).max
    val withUts = df
      .withColumn("__uts", unix_micros(col(c.ts)))
      .withColumn("__day", unix_micros(date_trunc("DAY", col(c.ts))))
    val base = withUts
      .withColumn("__chunk", col("__day"))
      .withColumn("__ctx", lit(false))
    val halo = withUts
      .where(col("__day") + day - col("__uts") <= mMax)
      .withColumn("__chunk", col("__day") + day)
      .withColumn("__ctx", lit(true))
    val unioned = base.unionByName(halo).drop("__day")
    val sorted = unioned
      .repartition(col(c.symbol), col("__chunk"))
      .sortWithinPartitions(col(c.symbol), col("__chunk"), col("__uts"))

    val schema = sorted.schema
    val symIdx = schema.fieldIndex(c.symbol)
    val chunkIdx = schema.fieldIndex("__chunk")
    val utsIdx = schema.fieldIndex("__uts")
    val priceIdx = schema.fieldIndex(c.price)
    val sizeIdx = schema.fieldIndex(c.size)
    val ctxIdx = schema.fieldIndex("__ctx")
    val keepIdx = schema.fieldNames.zipWithIndex
      .collect { case (n, i) if n != "__uts" && n != "__chunk" && n != "__ctx" => i }
    val outSchema = StructType(
      keepIdx.map(schema.fields(_)).toSeq ++ specs.flatMap { case (nm, _) =>
        Seq(
          StructField(s"rolling_vwap$nm", DoubleType, nullable = true),
          StructField(s"rolling_mean_price$nm", DoubleType, nullable = true),
          StructField(s"rolling_min$nm", DoubleType, nullable = true),
          StructField(s"rolling_max$nm", DoubleType, nullable = true),
          StructField(s"rolling_n$nm", LongType, nullable = false),
        )
      }
    )
    val ms = specs.map(_._2).toArray
    val nW = ms.length

    sorted.mapPartitions { it =>
      val buf = it.buffered
      new Iterator[Row] {
        var curSym: Any = null
        var curChunk: Long = Long.MinValue
        val q = Array.fill(nW)(new java.util.ArrayDeque[(Long, Double, Long)]())
        val minQ = Array.fill(nW)(new java.util.ArrayDeque[(Long, Double)]())
        val maxQ = Array.fill(nW)(new java.util.ArrayDeque[(Long, Double)]())
        val sumPS = new Array[Long](nW)
        val sumP = new Array[Long](nW)
        val sumS = new Array[Long](nW)
        val nn = new Array[Long](nW)
        var pendingOut: List[Row] = Nil

        private def resetChunk(): Unit = {
          var k = 0
          while (k < nW) {
            q(k).clear(); minQ(k).clear(); maxQ(k).clear()
            sumPS(k) = 0L; sumP(k) = 0L; sumS(k) = 0L; nn(k) = 0L
            k += 1
          }
        }

        private def add(uts: Long, p: Double, s: Long): Unit = {
          val cents = math.round(p * 100)
          var k = 0
          while (k < nW) {
            q(k).addLast((uts, p, s))
            sumPS(k) += cents * s; sumP(k) += cents; sumS(k) += s; nn(k) += 1
            while (!minQ(k).isEmpty && minQ(k).peekLast()._2 > p) minQ(k).removeLast()
            minQ(k).addLast((uts, p))
            while (!maxQ(k).isEmpty && maxQ(k).peekLast()._2 < p) maxQ(k).removeLast()
            maxQ(k).addLast((uts, p))
            k += 1
          }
        }

        private def evict(nowUts: Long): Unit = {
          var k = 0
          while (k < nW) {
            while (!q(k).isEmpty && q(k).peekFirst()._1 < nowUts - ms(k)) {
              val (u, p, s) = q(k).removeFirst()
              val cents = math.round(p * 100)
              sumPS(k) -= cents * s; sumP(k) -= cents; sumS(k) -= s; nn(k) -= 1
              if (!minQ(k).isEmpty && minQ(k).peekFirst()._1 == u && minQ(k).peekFirst()._2 == p)
                minQ(k).removeFirst()
              if (!maxQ(k).isEmpty && maxQ(k).peekFirst()._1 == u && maxQ(k).peekFirst()._2 == p)
                maxQ(k).removeFirst()
            }
            k += 1
          }
        }

        override def hasNext: Boolean = {
          while (pendingOut.isEmpty && buf.hasNext) {
            val head = buf.head
            val sym = head.get(symIdx)
            val chunk = head.getLong(chunkIdx)
            if (sym != curSym || chunk != curChunk) {
              curSym = sym; curChunk = chunk; resetChunk()
            }
            val uts = head.getLong(utsIdx)
            var group: List[Row] = Nil
            while (
              buf.hasNext && buf.head.get(symIdx) == sym &&
              buf.head.getLong(chunkIdx) == chunk && buf.head.getLong(utsIdx) == uts
            ) {
              val r = buf.next()
              add(uts, r.getDouble(priceIdx), r.getLong(sizeIdx))
              if (!r.getBoolean(ctxIdx)) group = r :: group
            }
            evict(uts)
            pendingOut = group.reverse.map { r =>
              val feats = (0 until nW).flatMap { k =>
                Seq[Any](
                  sumPS(k).toDouble / sumS(k) / 100.0,
                  sumP(k).toDouble / nn(k) / 100.0,
                  minQ(k).peekFirst()._2,
                  maxQ(k).peekFirst()._2,
                  nn(k),
                )
              }
              Row.fromSeq(keepIdx.map(r.get).toSeq ++ feats)
            }
          }
          pendingOut.nonEmpty
        }

        override def next(): Row = {
          val r = pendingOut.head; pendingOut = pendingOut.tail; r
        }
      }
    }(Encoders.row(outSchema))
  }
}

package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.plans.{KeyedScan, ScanKernel, ScanOut}

/** Exponentially-weighted moving statistics.
  *
  * Matches pandas/polars semantics used by the reference's
  * `daily_vol` (/root/reference/polars_trading/labels/
  * dynamic_labels.py:64 `ewm_std(span)` and the pandas oracle
  * /root/reference/polars_trading/_testing/labels.py:4):
  * adjust=true, bias=false (unbiased), ignore_na=false (null rows
  * decay the weights of older observations), null input -> null
  * output, first observation -> 0.0 (polars convention, pinned by
  * the reference's weekend-returns test).
  *
  * The EWM recurrence is a linear scan that no window function
  * expresses; it runs as one keyed scan per key group with O(1)
  * state ([[EwmStd]]), so arbitrarily long histories stream.
  */
object Ewm {

  /** Appends `outCol` = EWM std of `valueCol` per `keyCols` group in
    * `orderCols` order (a null key is a group of its own; null order
    * values sort first).
    *
    * Column contract: by default the output carries every input
    * column (full rows through the shuffle). Pass `keep` to project
    * to `keep` ∪ key/order/value columns before the shuffle so the
    * pruning reaches the scan — the wide-table scale path.
    */
  def stdOverKey(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      valueCol: String,
      span: Int,
      outCol: String,
      keep: Seq[String] = Nil,
  ): DataFrame = {
    require(span >= 1, "span must be >= 1")
    val pruned =
      if (keep.isEmpty) df
      else df.select((keyCols ++ orderCols ++ Seq(valueCol) ++ keep).distinct.map(col): _*)
    val fields = pruned.schema.fields
    val n = fields.length
    val valIdx = pruned.schema.fieldIndex(valueCol)
    val out = StructType(fields :+ StructField(outCol, DoubleType, nullable = true))
    KeyedScan(pruned, keyCols.map(col), orderCols.map(col), out, keyOut = keyCols) { () =>
      new ScanKernel {
        private val ewm = new EwmStd(span)
        def reset(key: InternalRow): Unit = ewm.reset()
        def step(row: InternalRow, o: ScanOut): Unit = {
          val w = o.begin()
          var i = 0
          while (i < n) { o.copy(i, row, i, fields(i).dataType); i += 1 }
          if (row.isNullAt(valIdx)) { ewm.skip(); w.setNullAt(n) }
          else w.write(n, ewm.add(row.getDouble(valIdx)))
          o.emit()
        }
        def flush(o: ScanOut): Unit = ()
      }
    }
  }
}

/** The EWM std recurrence of one key group (adjust=true, bias=false,
  * ignore_na=false), shared by [[Ewm.stdOverKey]] and
  * `Labels.dailyVol`: every step decays the four weight sums, and an
  * observation then adds to them. The multiply-add sequence is fixed,
  * so both callers give the same doubles.
  */
final class EwmStd(span: Int) extends Serializable {
  private val decay = 1.0 - 2.0 / (span + 1.0)
  private var sumW, sumWX, sumWX2, sumW2 = 0.0

  def reset(): Unit = { sumW = 0.0; sumWX = 0.0; sumWX2 = 0.0; sumW2 = 0.0 }

  /** A step without an observation: older weights decay. */
  def skip(): Unit = { sumW *= decay; sumWX *= decay; sumWX2 *= decay; sumW2 *= decay * decay }

  /** A step observing `x`; returns the std after it. */
  def add(x: Double): Double = {
    skip()
    sumW += 1.0; sumWX += x; sumWX2 += x * x; sumW2 += 1.0
    std
  }

  /** Unbiased std of the observations so far (0.0 for a single one). */
  def std: Double = {
    val mean = sumWX / sumW
    val varBiased = math.max(sumWX2 / sumW - mean * mean, 0.0)
    val denom = sumW * sumW - sumW2
    if (denom <= 0.0) 0.0 else math.sqrt(varBiased * sumW * sumW / denom)
  }
}

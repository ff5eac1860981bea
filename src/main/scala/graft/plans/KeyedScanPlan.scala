package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, AttributeReference, AttributeSet, Expression, SortOrder, UnsafeArrayData,
  UnsafeProjection, UnsafeRow
}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types._

/** A per-key sequential kernel, one instance per task. For each key
  * group [[KeyedScanExec]] calls `reset` with the group's key, `step`
  * with each of its rows in order, then `flush`. Input rows are the
  * child's, in child column order; they are reused by the caller, so a
  * kernel copies what it keeps past `step`. The key row stays valid
  * until the next `reset`.
  */
trait ScanKernel {
  def reset(key: InternalRow): Unit
  def step(row: InternalRow, out: ScanOut): Unit
  def flush(out: ScanOut): Unit
}

/** A kernel's output rows, written straight into UnsafeRow buffers: no
  * encoder, no generated projection. `begin` starts a row with every
  * field unset; a kernel sets each field once (or `setNullAt` it), then
  * calls `emit`.
  */
final class ScanOut(numFields: Int) {
  val w = new UnsafeRowWriter(numFields)
  private val rows = new java.util.ArrayDeque[UnsafeRow]()

  def begin(): UnsafeRowWriter = { w.reset(); w.zeroOutNullBytes(); w }
  def emit(): Unit = rows.add(w.getRow.copy())
  def isEmpty: Boolean = rows.isEmpty
  def next(): UnsafeRow = rows.poll()

  def array(ordinal: Int, values: Array[Double]): Unit = {
    val at = w.cursor()
    w.write(UnsafeArrayData.fromPrimitiveArray(values))
    w.setOffsetAndSizeFromPreviousCursor(ordinal, at)
  }

  /** Field `from` of `row` (of type `dt`) as output field `ordinal`. */
  def copy(ordinal: Int, row: InternalRow, from: Int, dt: DataType): Unit =
    if (row.isNullAt(from)) w.setNullAt(ordinal)
    else dt match {
      case StringType => w.write(ordinal, row.getUTF8String(from))
      case IntegerType | DateType => w.write(ordinal, row.getInt(from))
      case LongType | TimestampType | TimestampNTZType => w.write(ordinal, row.getLong(from))
      case DoubleType => w.write(ordinal, row.getDouble(from))
      case FloatType => w.write(ordinal, row.getFloat(from))
      case BooleanType => w.write(ordinal, row.getBoolean(from))
      case ShortType => w.write(ordinal, row.getShort(from))
      case ByteType => w.write(ordinal, row.getByte(from))
      case BinaryType => w.write(ordinal, row.getBinary(from))
      case t: DecimalType => w.write(ordinal, row.getDecimal(from, t.precision, t.scale), t.precision, t.scale)
      case other => throw new IllegalArgumentException(s"keyed scan cannot copy a $other field")
    }
}

/** Keyed scan: one logical node + strategy + physical operator that
  * runs a [[ScanKernel]] over each key group of its child.
  *
  * The requirements go to EnsureRequirements, like [[AsofJoinExec]]'s:
  * the child is clustered on `keys` and sorted by `keys ++ order`, so
  * Catalyst plans one hash exchange and one in-partition sort, and
  * elides them when the input already satisfies them. Rows stay
  * InternalRow in and out.
  *
  * Null keys: a null is a key value like any other. Rows whose key
  * expressions are all equal, nulls included, form one group, as in
  * GROUP BY (hash partitioning sends them to one task and the sort
  * puts them next to each other). Null values in the order columns
  * sort first within their group; what a null means is the kernel's
  * business.
  */
case class KeyedScanPlan(
    child: LogicalPlan,
    keys: Seq[Expression],
    order: Seq[Expression],
    newKernel: () => ScanKernel,
    output: Seq[Attribute],
    partitions: Option[Int],
) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the kernel reads child columns by ordinal: keep every one of them
  override def references: AttributeSet = child.outputSet
  override lazy val resolved: Boolean = childrenResolved
  override def simpleString(maxFields: Int): String = KeyedScan.describe(keys, order, output)
  override protected def withNewChildInternal(c: LogicalPlan): KeyedScanPlan = copy(child = c)
}

object KeyedScanStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: KeyedScanPlan =>
      KeyedScanExec(planLater(p.child), p.keys, p.order, p.newKernel, p.output, p.partitions) :: Nil
    case _ => Nil
  }
}

case class KeyedScanExec(
    child: SparkPlan,
    keys: Seq[Expression],
    order: Seq[Expression],
    newKernel: () => ScanKernel,
    output: Seq[Attribute],
    partitions: Option[Int],
) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def simpleString(maxFields: Int): String = KeyedScan.describe(keys, order, output)

  override def requiredChildDistribution: Seq[Distribution] =
    (if (keys.isEmpty) AllTuples else ClusteredDistribution(keys, requiredNumPartitions = partitions)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((keys ++ order).map(SortOrder(_, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val input = child.output
    val numOut = output.length
    val mk = newKernel
    child.execute().mapPartitions { rows =>
      val keyOf = UnsafeProjection.create(keyExprs, input)
      val kernel = mk()
      val out = new ScanOut(numOut)
      var key: UnsafeRow = null
      new Iterator[InternalRow] {
        override def hasNext: Boolean = {
          while (out.isEmpty && (key != null || rows.hasNext)) {
            if (rows.hasNext) {
              val row = rows.next()
              val k = keyOf(row)
              if (key == null || k != key) {
                if (key != null) kernel.flush(out)
                key = k.copy()
                kernel.reset(key)
              }
              kernel.step(row, out)
            } else {
              kernel.flush(out)
              key = null
            }
          }
          !out.isEmpty
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          out.next()
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): KeyedScanExec = copy(child = c)
}

object KeyedScan {

  private[plans] def describe(keys: Seq[Expression], order: Seq[Expression], output: Seq[Attribute]): String =
    s"KeyedScan keys=[${keys.mkString(", ")}] order=[${order.mkString(", ")}] output=[${output.mkString(", ")}]"

  /** `df` scanned per key group of `keys`, each group in `order`, by a
    * fresh `kernel` per task; the result has the columns of `out`. The
    * kernel reads `df`'s columns by ordinal, so callers pass `df`
    * already pruned to the columns it reads (a pure column selection,
    * which Catalyst folds into the scan below the exchange).
    * `partitions` fixes the exchange's partition count.
    */
  def apply(df: DataFrame, keys: Seq[Column], order: Seq[Column], out: StructType,
      partitions: Option[Int] = None)(kernel: () => ScanKernel): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(KeyedScanStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ KeyedScanStrategy
    }
    val child = df.queryExecution.analyzed
    val exprs = df.select(keys ++ order: _*).queryExecution.analyzed match {
      case Project(list, _) => list.map { case Alias(e, _) => e; case e => e }
      case other => throw new IllegalStateException(s"unexpected key plan $other")
    }
    val attrs = out.fields.toSeq.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(
      spark,
      KeyedScanPlan(child, exprs.take(keys.length), exprs.drop(keys.length), kernel, attrs, partitions),
    )
  }
}

package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.SparkEnv
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, AttributeMap, AttributeReference, AttributeSeq, AttributeSet, BindReferences, Expression,
  InterpretedOrdering, SortOrder, UnsafeArrayData, UnsafeMapData, UnsafeProjection, UnsafeRow
}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  AllTuples, ClusteredDistribution, CoalescedHashPartitioning, Distribution, HashPartitioning, Partitioning, PartitioningCollection,
  UnknownPartitioning
}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** A per-key sequential kernel, one instance per task. For each key
  * group [[KeyedScanExec]] calls `reset` with the group's key, `step`
  * with each of its rows in order, then `flush`. Input rows are the
  * child's, in child column order; they are reused by the caller, so a
  * kernel copies what it keeps past `step`. The key row stays valid
  * until the next `reset`.
  *
  * A kernel's fields are its streaming state: over a streaming
  * DataFrame (see [[KeyedScan.apply]]) a key's kernel is Java-serialized
  * after each micro-batch and restored for the next, so everything it
  * holds must serialize.
  */
trait ScanKernel extends Serializable {
  def reset(key: InternalRow): Unit
  def step(row: InternalRow, out: ScanOut): Unit
  def flush(out: ScanOut): Unit
}

/** A kernel's output rows, written straight into UnsafeRow buffers: no
  * encoder, no generated projection. `begin` starts a row with every
  * field unset; a kernel sets each field once (or `setNullAt` it), then
  * calls `emit`. A kernel whose group output is too large to buffer
  * hands a lazy sequence to `stream` instead: each element writes one
  * row after `begin`, when the consumer asks for it. Emitted rows come
  * out before streamed ones.
  */
final class ScanOut(numFields: Int) {
  val w = new UnsafeRowWriter(numFields)
  private val rows = new java.util.ArrayDeque[UnsafeRow]()
  private var later: Iterator[() => Unit] = Iterator.empty

  def begin(): UnsafeRowWriter = { w.reset(); w.zeroOutNullBytes(); w }
  def emit(): Unit = rows.add(w.getRow.copy())
  def stream(writers: Iterator[() => Unit]): Unit = later = if (later.hasNext) later ++ writers else writers
  def isEmpty: Boolean = rows.isEmpty && !later.hasNext
  def next(): UnsafeRow =
    if (!rows.isEmpty) rows.poll()
    else { begin(); later.next()(); w.getRow }

  def array(ordinal: Int, values: Array[Double]): Unit = arrayData(ordinal, UnsafeArrayData.fromPrimitiveArray(values))

  def arrayData(ordinal: Int, values: UnsafeArrayData): Unit = {
    val at = w.cursor()
    w.write(values)
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
      case _: ArrayType => arrayData(ordinal, row.getArray(from).asInstanceOf[UnsafeArrayData])
      case t: StructType => w.write(ordinal, row.getStruct(from, t.length).asInstanceOf[UnsafeRow])
      case _: MapType => w.write(ordinal, row.getMap(from).asInstanceOf[UnsafeMapData])
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
  * puts them next to each other). Null values in an ascending order
  * column sort first within their group, in a descending one last;
  * what a null means is the kernel's business.
  *
  * Layout pass-through: `keyOut(i)` is the output column into which
  * the kernel writes `keys(i)` unchanged. Every output row comes from
  * its group's task, so when the child is hash-partitioned on keys
  * that all have such a column, the output is hash-partitioned on
  * those columns, and a chained scan or join on them plans no second
  * exchange.
  *
  * The node is a `MultiInstanceRelation`: when a plan joins a scan's
  * output with itself, the analyzer gives the second copy fresh output
  * attributes.
  */
case class KeyedScanPlan(
    child: LogicalPlan,
    keys: Seq[Expression],
    order: Seq[SortOrder],
    newKernel: () => ScanKernel,
    output: Seq[Attribute],
    partitions: Option[Int],
    keyOut: Seq[Attribute],
) extends UnaryNode with MultiInstanceRelation {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the kernel reads child columns by ordinal: keep every one of them
  override def references: AttributeSet = child.outputSet
  override lazy val resolved: Boolean = childrenResolved
  override def simpleString(maxFields: Int): String = KeyedScan.describe(keys, order, output)
  override protected def withNewChildInternal(c: LogicalPlan): KeyedScanPlan = copy(child = c)

  override def newInstance(): KeyedScanPlan = {
    val fresh = AttributeMap(output.map(a => a -> a.newInstance()))
    copy(output = output.map(fresh), keyOut = keyOut.map(fresh))
  }
}

object KeyedScanStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: KeyedScanPlan =>
      KeyedScanExec(planLater(p.child), p.keys, p.order, p.newKernel, p.output, p.partitions, p.keyOut) :: Nil
    case _ => Nil
  }
}

case class KeyedScanExec(
    child: SparkPlan,
    keys: Seq[Expression],
    order: Seq[SortOrder],
    newKernel: () => ScanKernel,
    output: Seq[Attribute],
    partitions: Option[Int],
    keyOut: Seq[Attribute],
) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def simpleString(maxFields: Int): String = KeyedScan.describe(keys, order, output)

  override def outputPartitioning: Partitioning = {
    def passed(p: Partitioning): Seq[Partitioning] = p match {
      case HashPartitioning(exprs, n) =>
        val mapped = exprs.map(e => keys.zip(keyOut).collectFirst { case (k, o) if k.semanticEquals(e) => o })
        if (mapped.forall(_.isDefined)) Seq(HashPartitioning(mapped.flatten, n)) else Nil
      case CoalescedHashPartitioning(h, bounds) =>
        passed(h).collect { case p: HashPartitioning => CoalescedHashPartitioning(p, bounds) }
      case PartitioningCollection(ps) => ps.flatMap(passed)
      case _ => Nil
    }
    passed(child.outputPartitioning) match {
      case Seq() => UnknownPartitioning(child.outputPartitioning.numPartitions)
      case Seq(one) => one
      case many => PartitioningCollection(many)
    }
  }

  override def requiredChildDistribution: Seq[Distribution] =
    (if (keys.isEmpty) AllTuples else ClusteredDistribution(keys, requiredNumPartitions = partitions)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keys.map(SortOrder(_, Ascending)) ++ order)

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

  private[plans] def describe(keys: Seq[Expression], order: Seq[SortOrder], output: Seq[Attribute]): String =
    s"KeyedScan keys=[${keys.mkString(", ")}] order=[${order.mkString(", ")}] output=[${output.mkString(", ")}]"

  /** `df` scanned per key group of `keys`, each group in `order`, by a
    * fresh `kernel` per task; the result has the columns of `out`. The
    * kernel reads `df`'s columns by ordinal, so callers pass `df`
    * already pruned to the columns it reads (a pure column selection,
    * which Catalyst folds into the scan below the exchange).
    * An `order` column may carry a direction (`col("x").desc`);
    * a plain column sorts ascending, nulls first. `partitions` fixes
    * the exchange's partition count. `keyOut` names, for the leading
    * keys in turn, the output column the kernel writes that key into
    * unchanged (see [[KeyedScanPlan]]): the scan then keeps the child's
    * hash partitioning on those keys.
    *
    * A streaming `df` runs the same kernel under
    * `flatMapGroupsWithState`, in append mode with no timeout and no
    * watermark (the ordered-arrival contract of
    * [[graft.streaming.StatefulBars]]):
    *  - rows group by the same key expressions; a null key is a key
    *    value;
    *  - within each micro-batch a key's rows are sorted by `order`,
    *    with the null rules above;
    *  - on a key's first rows a fresh kernel is made and `reset` with
    *    the key; on later micro-batches the stored kernel is restored;
    *  - every row is `step`ped, and `flush` is never called: an open
    *    bar, day or window stays in state;
    *  - the kernel is stored back Java-serialized in a
    *    `GroupState[Array[Byte]]`;
    *  - every row the kernel wrote is emitted, streamed ones included.
    *
    * `partitions` and `keyOut` apply to a batch `df` only.
    */
  def apply(df: DataFrame, keys: Seq[Column], order: Seq[Column], out: StructType,
      partitions: Option[Int] = None, keyOut: Seq[String] = Nil)(kernel: () => ScanKernel): DataFrame = {
    val child = df.queryExecution.analyzed
    val sortOrder =
      if (order.isEmpty) Nil
      else df.sortWithinPartitions(order: _*).queryExecution.analyzed match {
        case Sort(o, false, _, _) => o
        case other => throw new IllegalStateException(s"unexpected order plan $other")
      }
    if (df.isStreaming)
      streaming(df, keys, BindReferences.bindReferences(sortOrder, AttributeSeq(child.output)), out, kernel)
    else {
      val spark = df.sparkSession
      if (!spark.experimental.extraStrategies.contains(KeyedScanStrategy)) {
        spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ KeyedScanStrategy
      }
      val keyExprs = df.select(keys: _*).queryExecution.analyzed match {
        case Project(list, _) => list.map { case Alias(e, _) => e; case e => e }
        case other => throw new IllegalStateException(s"unexpected key plan $other")
      }
      val attrs = out.fields.toSeq.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
      require(keyOut.length <= keyExprs.length, s"keyOut $keyOut names more columns than there are keys")
      val passed = keyOut.zip(keyExprs).map { case (name, k) =>
        val a = attrs(out.fieldIndex(name))
        require(a.dataType == k.dataType, s"keyOut column $name is ${a.dataType}, its key is ${k.dataType}")
        a
      }
      ColumnBridge.ofRows(spark, KeyedScanPlan(child, keyExprs, sortOrder, kernel, attrs, partitions, passed))
    }
  }

  /** The streaming driver of [[apply]]; `order` is bound to `df`'s columns. */
  private def streaming(df: DataFrame, keys: Seq[Column], order: Seq[SortOrder], out: StructType,
      kernel: () => ScanKernel): DataFrame = {
    val keySchema = df.select(keys: _*).schema
    val scan = new StreamingScan(ExpressionEncoder(keySchema), ExpressionEncoder(df.schema),
      ExpressionEncoder(out).resolveAndBind(), order, kernel)
    df.groupBy(keys: _*).as(Encoders.row(keySchema), Encoders.row(df.schema))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(scan.apply)(
        Encoders.BINARY, Encoders.row(out))
      .toDF()
  }
}

/** One key group's micro-batch of a streaming [[KeyedScan]]: rows in
  * and out through Row encoders, the kernel kept between micro-batches
  * as Java-serialized bytes.
  */
private final class StreamingScan(
    key: ExpressionEncoder[Row],
    row: ExpressionEncoder[Row],
    out: ExpressionEncoder[Row],
    order: Seq[SortOrder],
    newKernel: () => ScanKernel,
) extends Serializable {
  private val numOut = out.schema.length
  @transient private lazy val toKey = key.createSerializer()
  @transient private lazy val toRow = row.createSerializer()
  @transient private lazy val fromOut = out.createDeserializer()
  @transient private lazy val ordering = new InterpretedOrdering(order)
  @transient private lazy val ser = SparkEnv.get.closureSerializer.newInstance()

  def apply(k: Row, rows: Iterator[Row], state: GroupState[Array[Byte]]): Iterator[Row] = {
    val kernel =
      if (state.exists) ser.deserialize[ScanKernel](ByteBuffer.wrap(state.get))
      else { val fresh = newKernel(); fresh.reset(toKey(k).copy()); fresh }
    val sorted = rows.map(r => toRow(r).copy()).toArray
    java.util.Arrays.sort(sorted, ordering) // stable: equal rows keep arrival order
    val o = new ScanOut(numOut)
    val emitted = Seq.newBuilder[Row]
    sorted.foreach { r =>
      kernel.step(r, o)
      while (!o.isEmpty) emitted += fromOut(o.next())
    }
    state.update(JavaUtils.bufferToArray(ser.serialize(kernel)))
    emitted.result().iterator
  }
}

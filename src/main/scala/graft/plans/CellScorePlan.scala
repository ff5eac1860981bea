package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, GenericInternalRow, SortOrder, UnsafeProjection
}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types._

/** Native SemDeDup cell scoring: LogicalPlan + Strategy + streaming
  * per-cell physical pass ([[graft.functions.SemDedupKernel]]).
  *
  * The child contract is (cell BIGINT, id BIGINT, neu BOOLEAN,
  * nv ARRAY&lt;FLOAT|DOUBLE&gt;); the output is one verdict row per
  * `neu` member — (vec_id, cell, is_dup, dup_of, max_sim), the
  * keep-first semantics of the in-cell pair self-join
  * (`a.cell = b.cell AND a.id < b.id`), bit-identical (pinned).
  *
  * Why a custom SparkPlan and not a collect_list aggregation: that is an
  * ObjectHashAggregate, which FALLS BACK to sort-based aggregation
  * past 128 distinct cells per task — at production cell counts both
  * the partial and the final aggregate re-sort their input with the
  * full vector payload (2× the corpus bytes through local sorts, plus
  * per-member buffer copies; §6z r17 A/B). Here the requirements are
  * declared to EnsureRequirements — ClusteredDistribution(cell) +
  * ascending cell ordering — so Catalyst plans exactly ONE hash
  * exchange and ONE spill-safe Tungsten sort on the 8-byte key (and
  * can ELIDE them when the input is already cell-partitioned, e.g. a
  * VectorIndex store read), and the operator streams each cell
  * through the kernel holding ONE cell's primitive buffers
  * (~|cell| × d × 8 B), never a per-task member map. The whole
  * pipeline stays visible in explain() — no RDD boundary.
  */
case class CellScorePlan(
    child: LogicalPlan,
    threshold: Double,
    normalize: Boolean,
    vecIdAttr: Attribute,
    isDupAttr: Attribute,
    dupOfAttr: Attribute,
    maxSimAttr: Attribute,
) extends UnaryNode {
  def cellAttr: Attribute =
    child.output.find(_.name == "cell").getOrElse(child.output.head)
  override def output: Seq[Attribute] = Seq(vecIdAttr, cellAttr, isDupAttr, dupOfAttr, maxSimAttr)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      Seq(vecIdAttr, isDupAttr, dupOfAttr, maxSimAttr))
  // the kernel reads every child column (cell, id, neu, nv) — without
  // this, ColumnPruning projects the child down to `cell` alone
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  override lazy val resolved: Boolean = childrenResolved
  override protected def withNewChildInternal(c: LogicalPlan): CellScorePlan = copy(child = c)
}

object CellScoreStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: CellScorePlan =>
      CellScoreExec(
        planLater(p.child),
        p.threshold, p.normalize,
        p.cellAttr, p.vecIdAttr, p.isDupAttr, p.dupOfAttr, p.maxSimAttr,
      ) :: Nil
    case _ => Nil
  }
}

/** `cellAttr` is resolved once, by name, at planning time: a
  * canonicalized copy of this node (built when a plan is compared for
  * exchange reuse, e.g. a self-join of the verdicts) has blank child
  * names, and its output must not depend on them.
  */
case class CellScoreExec(
    child: SparkPlan,
    threshold: Double,
    normalize: Boolean,
    cellAttr: Attribute,
    vecIdAttr: Attribute,
    isDupAttr: Attribute,
    dupOfAttr: Attribute,
    maxSimAttr: Attribute,
) extends UnaryExecNode {

  private def ordinal(name: String): Int = {
    val i = child.output.indexWhere(_.name == name)
    require(i >= 0, s"cell-score child missing column $name: ${child.output.map(_.name)}")
    i
  }

  override def output: Seq[Attribute] = Seq(vecIdAttr, cellAttr, isDupAttr, dupOfAttr, maxSimAttr)

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      Seq(vecIdAttr, isDupAttr, dupOfAttr, maxSimAttr))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(cellAttr)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(cellAttr, Ascending)))

  // cell survives into the output, so the child's hash partitioning
  // remains valid — a downstream groupBy(cell) plans no new exchange
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val cellOrd = ordinal("cell")
    val idOrd = ordinal("id")
    val neuOrd = ordinal("neu")
    val nvOrd = ordinal("nv")
    val isFloat = child.output(nvOrd).dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case t => throw new IllegalArgumentException(s"cell-score nv type $t")
    }
    val thr = threshold
    val norm = normalize
    val outputAttrs = output
    child.execute().mapPartitions({ it =>
      val resultProj = UnsafeProjection.create(outputAttrs, outputAttrs)
      new Iterator[InternalRow] {
        // one cell's member buffers (grown, never shrunk — cells are
        // size-balanced by construction)
        private var cap = 256
        private var ids = new Array[Long](cap)
        private var neu = new Array[Boolean](cap)
        private var vecs = new Array[Array[Double]](cap)
        private var n = 0
        private var curCell = 0L
        private var curCellNull = false
        private var haveCell = false
        private var outRows: Array[InternalRow] = Array.empty
        private var outPos = 0

        private def add(row: InternalRow): Unit = {
          if (n == cap) {
            cap *= 2
            ids = java.util.Arrays.copyOf(ids, cap)
            neu = java.util.Arrays.copyOf(neu, cap)
            vecs = java.util.Arrays
              .copyOf(vecs.asInstanceOf[Array[AnyRef]], cap)
              .asInstanceOf[Array[Array[Double]]]
          }
          ids(n) = row.getLong(idOrd)
          neu(n) = row.getBoolean(neuOrd)
          // a null vector or null element makes the member
          // non-scoring (vecs null): the join form's dot is null
          // there and never reaches the threshold
          var arr: Array[Double] = null
          if (!row.isNullAt(nvOrd)) {
            val v = row.getArray(nvOrd)
            val d = v.numElements()
            val a = new Array[Double](d)
            var k = 0
            var anyNull = false
            while (k < d) {
              if (v.isNullAt(k)) { anyNull = true; k = d }
              else { a(k) = if (isFloat) v.getFloat(k).toDouble else v.getDouble(k); k += 1 }
            }
            if (!anyNull) {
              if (norm) graft.functions.SemDedupKernel.normalizeInPlace(a)
              arr = a
            }
          }
          vecs(n) = arr
          n += 1
        }

        private def flush(): Unit = {
          val v = graft.functions.SemDedupKernel.verdicts(ids, neu, vecs, n, thr)
          val cellVal: Any = if (curCellNull) null else curCell
          outRows = new Array[InternalRow](v.nOut)
          var j = 0
          while (j < v.nOut) {
            outRows(j) = new GenericInternalRow(
              if (v.found(j)) Array[Any](v.ids(j), cellVal, 1, v.dupOf(j), v.maxSim(j))
              else Array[Any](v.ids(j), cellVal, 0, null, null)
            )
            j += 1
          }
          outPos = 0
          n = 0
        }

        private def advance(): Unit = {
          while (outPos >= outRows.length && (haveCell || it.hasNext)) {
            var boundary = false
            while (!boundary && it.hasNext) {
              val row = it.next()
              val cNull = row.isNullAt(cellOrd)
              val c = if (cNull) 0L else row.getLong(cellOrd)
              if (!haveCell) { haveCell = true; curCell = c; curCellNull = cNull }
              if (cNull == curCellNull && c == curCell) add(row)
              else {
                flush() // verdicts for the cell that just ended
                curCell = c; curCellNull = cNull
                add(row)
                boundary = true
              }
            }
            if (!boundary) { // input drained: flush the final cell
              if (haveCell) flush()
              haveCell = false
            }
          }
        }

        override def hasNext: Boolean = {
          if (outPos < outRows.length) true
          else { advance(); outPos < outRows.length }
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = resultProj(outRows(outPos))
          outPos += 1
          r
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): CellScoreExec = copy(child = c)
}

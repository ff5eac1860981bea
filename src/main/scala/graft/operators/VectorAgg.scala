package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Primitive-buffer per-key vector sums — the centroid-mean kernel
  * for the spherical k-means rounds ([[Similarity.kmeansRound]], the
  * two-level fine rounds, [[Pq.train]]'s codebook update).
  *
  * The form it replaces computed per-key per-dimension means by
  * `posexplode(nv)` → `groupBy(key, pos).avg(x)` → re-assemble:
  * N·d exploded (key, pos, x) rows through a hash aggregate — one
  * hash probe per ELEMENT, ~2×10⁹ rows per round at 2M×d512
  * (r16 verdict, the named 40-60 s/round buildIndex term). Here each
  * input ROW costs one hash probe and d primitive adds into a
  * per-key f64 buffer; partials merge via `treeAggregate`, so the
  * corpus is read once per round with NO shuffle and no exploded
  * rows. Per-partition accumulation is in row order — the same
  * per-group fold order as the hash aggregate's partial `avg` — and
  * the partial-merge order is runtime-dependent in both forms.
  *
  * Driver/executor memory is bounded by keys × dim × 16 B (sums +
  * counts): every caller is gated by [[VectorIndex.maxInlineCells]] /
  * [[VectorIndex.maxInlineBytes]] (≤ 65536 × 512 × 8 B = 256 MiB of
  * sums — the same budget as the inline centroid reference object);
  * past the gate callers keep the distributed posexplode form.
  *
  * Null/ragged semantics match the explode form exactly: a null key
  * or null vector contributes nothing (posexplode emits no rows); a
  * null ELEMENT occupies its position but is not summed or counted
  * (avg skips nulls — a position with only nulls yields a null mean);
  * a short vector contributes only to its own positions.
  */
object VectorAgg {

  /** Per-key sums: one entry per observed key, with per-position sums
    * and non-null counts. Arrays grow to the longest vector seen.
    */
  final class VecSum(var s: Array[Double], var c: Array[Long]) extends Serializable {
    def grow(d: Int): Unit = {
      if (d > s.length) {
        s = java.util.Arrays.copyOf(s, d)
        c = java.util.Arrays.copyOf(c, d)
      }
    }
  }

  /** Sums `df`'s second column (array&lt;float|double&gt;) per first
    * column (bigint key) into driver-local primitive buffers. One
    * pass over the plan's InternalRows — no boxing, no shuffle.
    */
  def sumByKey(df: DataFrame): scala.collection.mutable.LongMap[VecSum] = {
    val schema = df.schema
    require(schema.length == 2, s"sumByKey wants (key, vec), got ${schema.map(_.name)}")
    val isFloat = schema(1).dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, _) => false
      case t => throw new IllegalArgumentException(s"sumByKey vec column type $t")
    }
    val rdd = df.queryExecution.toRdd
    type M = scala.collection.mutable.LongMap[VecSum]
    val seqOp: (M, org.apache.spark.sql.catalyst.InternalRow) => M = { (m, row) =>
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val k = row.getLong(0)
        val arr = row.getArray(1)
        val d = arr.numElements()
        val e = m.getOrElseUpdate(k, new VecSum(new Array[Double](d), new Array[Long](d)))
        e.grow(d)
        var i = 0
        while (i < d) {
          if (!arr.isNullAt(i)) {
            e.s(i) += (if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i))
            e.c(i) += 1
          }
          i += 1
        }
      }
      m
    }
    val combOp: (M, M) => M = { (a, b) =>
      b.foreach { case (k, v) =>
        a.get(k) match {
          case None => a.update(k, v)
          case Some(e) =>
            e.grow(v.s.length)
            var i = 0
            while (i < v.s.length) { e.s(i) += v.s(i); e.c(i) += v.c(i); i += 1 }
        }
      }
      a
    }
    rdd.treeAggregate(new M)(seqOp, combOp)
  }

  /** The summed buffers as a driver-local (k, s, c) DataFrame, so the
    * final mean/normalize stays the SAME Column tree as the explode
    * form (`when(c = 0, null) otherwise s/c`, then √Σm² and the
    * per-element divide) — op-for-op, oracle-compatible.
    */
  def sumsToDF(
      spark: SparkSession,
      sums: scala.collection.mutable.LongMap[VecSum],
      keep: Long => Boolean = _ => true,
  ): DataFrame = {
    import spark.implicits._
    sums.iterator.collect { case (k, v) if keep(k) => (k, v.s, v.c) }.toSeq.toDF("k", "s", "c")
  }

  /** (k, s, c) → (k, mv): per-position mean, null where the position
    * had no non-null contributions — exactly the explode form's
    * `avg` semantics.
    */
  def meanCol(s: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    zip_with(s, c, (si, ci) => when(ci === 0L, lit(null)).otherwise(si / ci))

  /** Fused nearest-centroid assignment + per-cell vector sums: one
    * pass over `nv`'s InternalRows that assigns each vector to its
    * argmax centroid ([[graft.functions.NearestOrder]], the
    * expression's comparator — highest dot with Spark double
    * semantics, smallest cent_id tiebreak, dots left-to-right f64)
    * and accumulates it into that cell's [[VecSum]] buffers in row
    * order — the same result map as
    * `sumByKey(nv.select(nearestCellNative(...), nv))`.
    *
    * Why fused AND tiled (r17 verdict #1: the two ~43 s k-means
    * rounds at 2M × d512 × 1412 cells): the per-row expression runs
    * ONE serial f64 FMA chain per dot — latency-bound at ~1 FMA per
    * ~4 cycles — and streams the whole cells × dim × 8 B centroid
    * matrix from cache again for EVERY row. Decoding an 8-row tile
    * and walking the matrix once per tile runs 8 independent
    * accumulator chains per centroid row (ILP-bound at the FMA
    * throughput limit instead of the latency limit) and divides the
    * matrix traffic by 8. Each scalar dot still accumulates over i
    * ascending — per-(row, centroid) doubles are bit-identical to the
    * expression form, so the argmax and the per-cell sums are too
    * (pinned in ScalaTest).
    *
    * Exactness gate: callers must pass an nv column whose array
    * element type is float/double with `containsNull = false` (the
    * [[graft.functions.NormalizeExpr]] output — every k-means caller)
    * and SKIP this kernel otherwise: the tile decode has no per-
    * element null slot, while the expression+sumByKey path has
    * defined null-element semantics that this kernel does not
    * replicate. Null ROWS contribute nothing (the expression form's
    * null cell is skipped by sumByKey). Rows shorter than `dim` dot
    * over their own length (the expression's min(len, dim)) on the
    * scalar tail path.
    *
    * Memory: the same keys × dim × 16 B partial-buffer budget as
    * [[sumByKey]], gated by the same inline-cells caller gates.
    */
  def assignSumByMatrix(
      nv: DataFrame,
      centIds: Array[Long],
      mat: Array[Double],
      dim: Int,
  ): scala.collection.mutable.LongMap[VecSum] = {
    val schema = nv.schema
    // the vector is the last column; any before it ride along unread
    val vec = schema.length - 1
    require(vec >= 0, "assignSumByMatrix wants (..., vec)")
    val isFloat = schema(vec).dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, false) => true
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, false) => false
      case t => throw new IllegalArgumentException(
        s"assignSumByMatrix vec column must be array<float|double> with containsNull=false, got $t")
    }
    val rdd = nv.queryExecution.toRdd
    type M = scala.collection.mutable.LongMap[VecSum]
    val partials = rdd.mapPartitions { it =>
      val m = new M
      val tiler = new TiledArgmax(centIds, mat, dim)

      def addToCell(cell: Long, v: Array[Double]): Unit = {
        val d = v.length
        val e = m.getOrElseUpdate(cell, new VecSum(new Array[Double](d), new Array[Long](d)))
        e.grow(d)
        var i = 0
        while (i < d) { e.s(i) += v(i); e.c(i) += 1; i += 1 }
      }

      while (it.hasNext) {
        val row = it.next()
        if (!row.isNullAt(vec)) {
          val arr = row.getArray(vec)
          val d = arr.numElements()
          val v =
            if (isFloat) {
              val a = new Array[Double](d)
              var i = 0
              while (i < d) { a(i) = arr.getFloat(i).toDouble; i += 1 }
              a
            } else arr.toDoubleArray()
          if (tiler.push(v)) tiler.drain((cell, vec, _) => addToCell(cell, vec))
        }
      }
      tiler.flush()
      tiler.drain((cell, vec, _) => addToCell(cell, vec))
      Iterator.single(m)
    }
    val combOp: (M, M) => M = { (a, b) =>
      b.foreach { case (k, v) =>
        a.get(k) match {
          case None => a.update(k, v)
          case Some(e) =>
            e.grow(v.s.length)
            var i = 0
            while (i < v.s.length) { e.s(i) += v.s(i); e.c(i) += v.c(i); i += 1 }
        }
      }
      a
    }
    if (partials.getNumPartitions == 0) new M else partials.treeReduce(combOp)
  }

  /** 8-row-tiled nearest-centroid argmax — the shared kernel of
    * [[assignSumByMatrix]] and the tiled assignment pass
    * ([[Similarity.assignToCells]] at large cell counts). Buffer 8
    * decoded rows, then walk the centroid matrix ONCE for the tile
    * with 8 independent accumulator chains per centroid row: the
    * per-row expression form pays one latency-bound FMA chain per dot
    * (~1 FMA/4 cycles) AND streams cells × dim × 8 B from cache per
    * ROW — both walls measured at ~43 s per 2M × d512 × 1225-cell
    * pass. Each scalar dot still accumulates over i ascending, and
    * the comparator is [[graft.functions.NearestOrder]], shared with
    * the expression — per-(row, centroid) doubles, argmax ids, and
    * tie-breaks are bit-identical to the expression (pinned).
    *
    * Rows shorter than `dim` (dots over min(len, dim)) take the
    * scalar path; rows longer than `dim` dot over the first dim
    * elements on either path, exactly as the expression does.
    */
  private[operators] final class TiledArgmax(
      centIds: Array[Long],
      mat: Array[Double],
      dim: Int,
  ) {
    private val T = 8
    private val nCells = centIds.length
    private val tile = new Array[Array[Double]](T)
    private val tags = new Array[AnyRef](T)
    private var nT = 0
    private val bestS = new Array[Double](T)
    private val bestId = new Array[Long](T)

    import graft.functions.NearestOrder.better

    // scalar argmax for one row (the expression form verbatim)
    private def argmaxScalar(v: Array[Double]): Long = {
      val n = math.min(v.length, dim)
      var bS = 0.0
      var bId = 0L
      var c = 0
      while (c < nCells) {
        val base = c * dim
        var s = 0.0
        var i = 0
        while (i < n) { s += v(i) * mat(base + i); i += 1 }
        if (better(s, centIds(c), c == 0, bS, bId)) { bS = s; bId = centIds(c) }
        c += 1
      }
      bId
    }

    private def compute(): Unit = {
      var fullDim = true
      var r = 0
      while (r < nT) { if (tile(r).length < dim) fullDim = false; r += 1 }
      if (nT == T && fullDim) {
        val t0 = tile(0); val t1 = tile(1); val t2 = tile(2); val t3 = tile(3)
        val t4 = tile(4); val t5 = tile(5); val t6 = tile(6); val t7 = tile(7)
        var c = 0
        while (c < nCells) {
          val base = c * dim
          var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
          var s4 = 0.0; var s5 = 0.0; var s6 = 0.0; var s7 = 0.0
          var i = 0
          while (i < dim) {
            val mv = mat(base + i)
            s0 += t0(i) * mv; s1 += t1(i) * mv; s2 += t2(i) * mv; s3 += t3(i) * mv
            s4 += t4(i) * mv; s5 += t5(i) * mv; s6 += t6(i) * mv; s7 += t7(i) * mv
            i += 1
          }
          val id = centIds(c)
          val first = c == 0
          if (better(s0, id, first, bestS(0), bestId(0))) { bestS(0) = s0; bestId(0) = id }
          if (better(s1, id, first, bestS(1), bestId(1))) { bestS(1) = s1; bestId(1) = id }
          if (better(s2, id, first, bestS(2), bestId(2))) { bestS(2) = s2; bestId(2) = id }
          if (better(s3, id, first, bestS(3), bestId(3))) { bestS(3) = s3; bestId(3) = id }
          if (better(s4, id, first, bestS(4), bestId(4))) { bestS(4) = s4; bestId(4) = id }
          if (better(s5, id, first, bestS(5), bestId(5))) { bestS(5) = s5; bestId(5) = id }
          if (better(s6, id, first, bestS(6), bestId(6))) { bestS(6) = s6; bestId(6) = id }
          if (better(s7, id, first, bestS(7), bestId(7))) { bestS(7) = s7; bestId(7) = id }
          c += 1
        }
      } else {
        var r = 0
        while (r < nT) { bestId(r) = argmaxScalar(tile(r)); r += 1 }
      }
    }

    /** Buffer a decoded row (with an optional caller payload carried
      * alongside it); when the tile fills, compute its argmaxes and
      * return true — the caller must [[drain]] before the next push.
      */
    def push(v: Array[Double], tag: AnyRef = null): Boolean = {
      tile(nT) = v
      tags(nT) = tag
      nT += 1
      if (nT == T) { compute(); true } else false
    }

    /** Compute argmaxes for a partial tile at end of input. */
    def flush(): Unit = if (nT > 0 && nT < T) compute()

    /** Visit (cell, vector, tag) for the computed tile in row order,
      * then reset.
      */
    def drain(f: (Long, Array[Double], AnyRef) => Unit): Unit = {
      var r = 0
      while (r < nT) { f(bestId(r), tile(r), tags(r)); r += 1 }
      nT = 0
    }
  }

  /** Per-key `k` SMALLEST-id members with their vectors, one
    * primitive pass — the fine-seed rule (`row_number() over
    * (partition by coarse order by id) <= finePer`) without the
    * window's slim-label shuffle OR the broadcast re-join's second
    * corpus scan (together the largest stage of the r17 semantic-
    * dedup decomposition at 2M×d512). Exact: smallest ids are a
    * deterministic set; a vector is decoded only when it can enter
    * its key's bounded TreeMap (expected k·ln(n/k) inserts per key).
    * Rows with a null key or null vector are skipped (the window
    * form crashed on them at the seed collect).
    *
    * Returns (key, rank 0-based in ascending id, vector). Caller
    * gates memory: every partial holds ≤ keys × k × dim × 8 B.
    */
  def minKByKey(df: DataFrame, k: Int): Array[(Long, Int, Array[Double])] = {
    val schema = df.schema
    require(schema.length == 3, s"minKByKey wants (key, id, vec), got ${schema.map(_.name)}")
    val isFloat = schema(2).dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, _) => false
      case t => throw new IllegalArgumentException(s"minKByKey vec column type $t")
    }
    val rdd = df.queryExecution.toRdd
    type T = java.util.TreeMap[Long, Array[Double]]
    type M = scala.collection.mutable.LongMap[T]
    val seqOp: (M, org.apache.spark.sql.catalyst.InternalRow) => M = { (m, row) =>
      if (!row.isNullAt(0) && !row.isNullAt(2)) {
        val key = row.getLong(0)
        // ids are non-null by construction for every caller (argmax
        // labels over non-null vectors); a null id would decode as 0
        // here where the window form ranks nulls — guard it loudly
        // rather than silently diverging (r17 advice)
        require(!row.isNullAt(1), "minKByKey: null id")
        val id = row.getLong(1)
        val t = m.getOrElseUpdate(key, new T)
        if (t.size < k || id < t.lastKey()) {
          val arr = row.getArray(2)
          val d = arr.numElements()
          val a = new Array[Double](d)
          var i = 0
          while (i < d) {
            a(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
            i += 1
          }
          t.put(id, a)
          if (t.size > k) t.pollLastEntry()
        }
      }
      m
    }
    val combOp: (M, M) => M = { (x, y) =>
      y.foreach { case (key, t) =>
        x.get(key) match {
          case None => x.update(key, t)
          case Some(tx) =>
            val it = t.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              if (tx.size < k || e.getKey < tx.lastKey()) {
                tx.put(e.getKey, e.getValue)
                if (tx.size > k) tx.pollLastEntry()
              }
            }
        }
      }
      x
    }
    val m = rdd.treeAggregate(new M)(seqOp, combOp)
    m.iterator.flatMap { case (key, t) =>
      val it = t.entrySet().iterator()
      Iterator.tabulate(t.size()) { r => (key, r, it.next().getValue) }
    }.toArray
  }
}

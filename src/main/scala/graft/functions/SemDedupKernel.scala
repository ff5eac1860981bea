package graft.functions

/** The in-memory SemDeDup cell kernel behind
  * [[graft.plans.CellScorePlan]] (the physical form of
  * [[graft.operators.Similarity.cellDedupScores]]): normalization
  * arithmetic, candidate ordering, and verdict comparisons.
  *
  * Verdicts are bit-identical to the in-cell pair self-join
  * (`a.cell = b.cell AND a.id < b.id`, normalized dot): each dot is
  * the same left-to-right f64 accumulation as [[DotProductExpr]] over
  * the same normalized vectors (per-element products commute and the
  * sum order is the element order), min/max over doubles are
  * order-free, and members are processed in ascending-id order, so
  * the candidate pairs are exactly the join's. Pinned in ScalaTest
  * against that join.
  */
object SemDedupKernel {

  /** [[NormalizeExpr]]'s exact arithmetic: f64 Σx² left-to-right,
    * per-element /√. In place.
    */
  def normalizeInPlace(arr: Array[Double]): Unit = {
    var s2 = 0.0
    var k = 0
    while (k < arr.length) { val x = arr(k); s2 += x * x; k += 1 }
    val nrm = math.sqrt(s2)
    k = 0
    while (k < arr.length) { arr(k) = arr(k) / nrm; k += 1 }
  }

  /** Verdicts for one cell. `vecs(i) == null` marks a NON-SCORING
    * member (null vector or null element upstream): excluded from
    * every candidate set; a keeper verdict if `neu`. Members are
    * processed in ascending-id order — member b's candidates are
    * exactly the lower-id members, the join form's `a.id < b.id`.
    *
    * Output arrays are parallel over the first `nOut` entries;
    * `found(j)` false ⇒ keeper (dupOf/maxSim unset). A separate
    * found flag, never an id sentinel: negative member ids are legal
    * dup_of values (r16 advice).
    */
  final class CellVerdicts(cap: Int) {
    var nOut: Int = 0
    val ids = new Array[Long](cap)
    val found = new Array[Boolean](cap)
    val dupOf = new Array[Long](cap)
    val maxSim = new Array[Double](cap)
  }

  def verdicts(
      ids: Array[Long],
      neu: Array[Boolean],
      vecs: Array[Array[Double]],
      n: Int,
      threshold: Double,
  ): CellVerdicts = {
    val ord = new Array[Int](n)
    var i = 0
    while (i < n) { ord(i) = i; i += 1 }
    // sort positions by member id (boxing-free insertion would be
    // overkill: n is one cell)
    val ordBoxed = ord.take(n).sortBy(ids(_))
    val out = new CellVerdicts(n)
    // Scoring candidates compacted in ascending-id order as members
    // are passed (exactly the lower-id non-null set) — lets the dot
    // loop run 4 independent FMA chains per
    // candidate group instead of one latency-bound chain per dot
    // (r17 verdict #4: Σ|cell|²/2 × d dots ARE the score-stage
    // compute at fd sf100 — census p50=90/p99=3495/Σ|cell|²=4.1e9,
    // balanced aggregate compute, not stragglers). Each scalar dot
    // still accumulates over k ascending and verdicts are applied in
    // ascending candidate order, so results are bit-identical to a
    // one-chain-per-dot scalar loop (pinned against a test-side one).
    val candV = new Array[Array[Double]](n)
    val candId = new Array[Long](n)
    var nc = 0
    var bi = 0
    while (bi < n) {
      val b = ordBoxed(bi)
      val vb = vecs(b)
      if (neu(b)) {
        var f = false
        var dOf = 0L
        var mSim = 0.0
        if (vb != null) {
          val db = vb.length
          var ai = 0

          // one candidate's verdict — the scalar form's comparisons
          // verbatim (Spark SQL semantics: NaN larger than any value
          // and qualifying; first hit = min id since order ascends)
          def apply1(s: Double, aid: Long): Unit = {
            if (s >= threshold || java.lang.Double.isNaN(s)) {
              if (!f) { f = true; dOf = aid; mSim = s }
              else if (s > mSim || java.lang.Double.isNaN(s)) mSim = s
            }
          }

          while (ai + 4 <= nc) {
            val v0 = candV(ai); val v1 = candV(ai + 1)
            val v2 = candV(ai + 2); val v3 = candV(ai + 3)
            val d0 = math.min(v0.length, db); val d1 = math.min(v1.length, db)
            val d2 = math.min(v2.length, db); val d3 = math.min(v3.length, db)
            val dMin = math.min(math.min(d0, d1), math.min(d2, d3))
            var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
            var k = 0
            while (k < dMin) {
              val x = vb(k)
              s0 += v0(k) * x; s1 += v1(k) * x; s2 += v2(k) * x; s3 += v3(k) * x
              k += 1
            }
            // ragged tails (same ascending-k order per chain)
            k = dMin; while (k < d0) { s0 += v0(k) * vb(k); k += 1 }
            k = dMin; while (k < d1) { s1 += v1(k) * vb(k); k += 1 }
            k = dMin; while (k < d2) { s2 += v2(k) * vb(k); k += 1 }
            k = dMin; while (k < d3) { s3 += v3(k) * vb(k); k += 1 }
            apply1(s0, candId(ai)); apply1(s1, candId(ai + 1))
            apply1(s2, candId(ai + 2)); apply1(s3, candId(ai + 3))
            ai += 4
          }
          // the fewer-than-4 remainder, one candidate at a time
          while (ai < nc) {
            val va = candV(ai)
            val d = math.min(va.length, db)
            var s = 0.0
            var k = 0
            while (k < d) { s += va(k) * vb(k); k += 1 }
            apply1(s, candId(ai))
            ai += 1
          }
        }
        val j = out.nOut
        out.ids(j) = ids(b)
        out.found(j) = f
        out.dupOf(j) = dOf
        out.maxSim(j) = mSim
        out.nOut = j + 1
      }
      if (vb != null) { candV(nc) = vb; candId(nc) = ids(b); nc += 1 }
      bi += 1
    }
    out
  }
}

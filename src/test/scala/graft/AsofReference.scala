package graft

import graft.operators.AsofJoin

/** Collect-side brute-force reference for `AsofJoin.asofNative`: for
  * each left row, the set of right values the join may legally emit.
  * The set has several members only when right keys tie at the matched
  * key (which of the equal rows wins is sort order, unspecified); it
  * is empty when the join must emit null.
  *
  * Semantics: backward = right rows with key <= left key, the largest
  * key; forward = key >= left key, the smallest; nearest = the closer
  * of the backward candidate and the first key > left key, a distance
  * tie going backward. `tolerance` bounds |left - right|. Null keys on
  * either side match nothing.
  */
object AsofReference {

  def matches[B, V](
      left: Seq[(B, Option[Long])],
      right: Seq[(B, Option[Long], V)],
      direction: AsofJoin.Direction = AsofJoin.Backward,
      tolerance: Option[Double] = None,
  ): Seq[Set[V]] = {
    val groups = right.collect { case (b, Some(k), v) => (b, k, v) }.groupBy(_._1)
    def within(d: Long) = tolerance.forall(d <= _)
    // the values at the minimal distance, with that distance
    def closest(rs: Seq[(B, Long, V)], dist: Long => Long): Option[(Long, Set[V])] =
      if (rs.isEmpty) None
      else {
        val d = rs.map(r => dist(r._2)).min
        Some(d -> rs.filter(r => dist(r._2) == d).map(_._3).toSet)
      }
    left.map {
      case (_, None) => Set.empty[V]
      case (b, Some(l)) =>
        val rs = groups.getOrElse(b, Nil)
        val bwd = closest(rs.filter(r => r._2 <= l && within(l - r._2)), l - _)
        def fwd(from: Long => Boolean) =
          closest(rs.filter(r => from(r._2) && within(r._2 - l)), _ - l)
        val pick = direction match {
          case AsofJoin.Backward => bwd
          case AsofJoin.Forward  => fwd(_ >= l)
          case AsofJoin.Nearest =>
            (bwd, fwd(_ > l)) match {
              case (Some(bb), Some(ff)) => if (bb._1 <= ff._1) Some(bb) else Some(ff)
              case (bb, ff)             => bb.orElse(ff)
            }
        }
        pick.fold(Set.empty[V])(_._2)
    }
  }

  /** Whether `got` (the join's value, None = null) is one the
    * reference allows. */
  def allows[V](allowed: Set[V], got: Option[V]): Boolean = got.fold(allowed.isEmpty)(allowed.contains)
}

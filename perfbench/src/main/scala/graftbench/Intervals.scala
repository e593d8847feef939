package graftbench

/** Interval arithmetic on [start, end) millisecond pairs. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  /** Seconds covered by the union of `xs`. */
  def covered(xs: Seq[(Long, Long)]): Double =
    union(xs).map { case (a, b) => b - a }.sum / 1000.0
}

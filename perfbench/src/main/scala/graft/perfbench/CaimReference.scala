package graft.perfbench

/** An independent CAIM (Kurgan & Cios, IEEE TKDE 16(2), 2004) for checking
  * fitted boundaries: it scores every candidate cut from scratch, summing
  * the criterion over all intervals, where CAIMDiscretizer updates one
  * interval incrementally; and it builds its histogram from collected rows
  * rather than from a distributed aggregation. */
object CaimReference {
  /** Sorted distinct values of one feature and their class counts. */
  final case class Hist(values: Array[Double], counts: Array[Array[Long]])

  /** The histogram of (value, label) rows over the labels present. */
  def hist(rows: Seq[(Double, Int)]): Hist = {
    val labels = rows.map(_._2).distinct.sorted
    val at = labels.zipWithIndex.toMap
    val values = rows.map(_._1).distinct.sorted.toArray
    val row = values.zipWithIndex.toMap
    val counts = Array.fill(values.length)(new Array[Long](labels.size))
    rows.foreach { case (v, y) => counts(row(v))(at(y)) += 1 }
    Hist(values, counts)
  }

  /** Class counts of the values before each index, for interval sums. */
  private def prefix(h: Hist): Array[Array[Long]] =
    h.counts.scanLeft(new Array[Long](h.counts(0).length)) { (acc, c) =>
      acc.indices.map(k => acc(k) + c(k)).toArray
    }

  /** CAIM of the partition that cuts after each value index in `cuts`
    * (sorted, each in 1 until m): the mean over intervals of max²/total,
    * summed over every interval. */
  def caim(pre: Array[Array[Long]], cuts: Seq[Int]): Double = {
    val edges = 0 +: cuts :+ (pre.length - 1)
    var sum = 0.0
    var r = 1
    while (r < edges.length) {
      val lo = pre(edges(r - 1))
      val hi = pre(edges(r))
      var mx = 0L
      var tot = 0L
      var k = 0
      while (k < lo.length) {
        val c = hi(k) - lo(k)
        if (c > mx) mx = c
        tot += c
        k += 1
      }
      if (tot > 0) sum += mx.toDouble * mx / tot
      r += 1
    }
    sum / (edges.length - 1)
  }

  /** Greedy CAIM: add the cut that maximizes CAIM (the lowest one on a tie)
    * while CAIM rises or there are fewer intervals than classes. Returns
    * [min, midpoint cuts..., max]. */
  def fit(h: Hist): Array[Double] = {
    val m = h.values.length
    val classes = h.counts(0).length
    val pre = prefix(h)
    var cuts = Vector.empty[Int]
    var best = 0.0
    var done = m <= 1
    while (!done) {
      var bestP = -1
      var bestC = Double.NegativeInfinity
      var p = 1
      while (p < m) {
        if (!cuts.contains(p)) {
          val c = caim(pre, (cuts :+ p).sorted)
          if (c > bestC) { bestC = c; bestP = p }
        }
        p += 1
      }
      if (bestP > 0 && (bestC > best || cuts.size + 1 < classes)) {
        cuts = (cuts :+ bestP).sorted
        best = bestC
      } else done = true
    }
    (h.values(0) +: cuts.map(p => (h.values(p - 1) + h.values(p)) / 2) :+ h.values(m - 1)).distinct.toArray
  }

  /** None when `got` equals `want`, the reference boundaries of `h`; also
    * None when both differ only by a tie in CAIM (equal within 1e-12, same
    * cut count), which floating-point order may break either way. */
  def compare(h: Hist, want: Array[Double], got: Array[Double]): Option[String] =
    if (want.sameElements(got)) None
    else {
      val mids = (1 until h.values.length).map(p => (h.values(p - 1) + h.values(p)) / 2 -> p).toMap
      def cutsOf(b: Array[Double]): Option[Seq[Int]] = {
        val inner = b.drop(1).dropRight(1).toSeq
        if (inner.forall(mids.contains)) Some(inner.map(mids).sorted) else None
      }
      val pre = prefix(h)
      (cutsOf(want), cutsOf(got)) match {
        case (Some(w), Some(o)) if w.size == o.size &&
            math.abs(caim(pre, w) - caim(pre, o)) <= 1e-12 * caim(pre, w) => None
        case _ => Some(s"boundaries ${got.mkString(",")}, expected ${want.mkString(",")}")
      }
    }

  /** Sum of Bucketizer bin ids over every row of `h` under `bounds`
    * ([min, cuts..., max], outer bins open): a value's bin is the number of
    * cuts at or below it. */
  def binSum(h: Hist, bounds: Array[Double]): Double = {
    val cuts = bounds.drop(1).dropRight(1)
    h.values.indices.map { j =>
      cuts.count(_ <= h.values(j)).toDouble * h.counts(j).sum
    }.sum
  }
}

package perfbench

/** The harness's pure parts: seeded query order, order statistics and
  * span accounting. Kept free of Spark so the self-tests can pin them. */
object Stats {

  /** Query order for pass `pass` of a run with seed `seed`: a Fisher-Yates
    * shuffle driven by `SplittableRandom`, whose output is fixed by its
    * specification, so one (seed, pass) gives one order on every JDK. */
  def order[T](items: Seq[T], seed: Long, pass: Int): Vector[T] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + pass)
    val a = items.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** Quantile `q` in [0, 1] with linear interpolation between closest
    * ranks (numpy's default), so a median of an even count is the mean
    * of the middle two. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile that leaves at least `beyond` of `n`
    * samples above it, or None when not even the median does. */
  def tailPercentile(n: Int, beyond: Int): Option[Int] = {
    val p = math.floor(100.0 * (n - beyond) / n + 1e-9).toInt
    if (n <= 0 || p < 50) None else Some(math.min(p, 99))
  }

  /** One recorded interval; `parent` is -1 for a root span. */
  case class Span(id: Int, parent: Int, query: String, name: String,
                  startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Share of `root`'s duration that its direct children cover (child
    * intervals are clipped to the root and merged, so overlaps never
    * count twice). 1.0 means the children account for the whole wall. */
  def coverage(root: Span, spans: Seq[Span]): Double = {
    val dur = root.endNs - root.startNs
    if (dur <= 0) return 1.0
    val kids = spans.filter(_.parent == root.id)
      .map(s => (math.max(s.startNs, root.startNs), math.min(s.endNs, root.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = root.startNs
    for ((a, b) <- kids) {
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    covered.toDouble / dur
  }
}

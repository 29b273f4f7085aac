package perfbench

/** The harness's own arithmetic, kept free of Spark so HarnessSpec can pin
  * it: percentiles, the union of stage spans, digest folding and a small
  * JSON writer. */
object Stats {

  /** Linear-interpolated percentile (numpy's default, `q` in [0, 100]). */
  def percentile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.length - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: collection.Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.length
  }

  /** Geometric mean: the typical size of samples that differ by factors,
    * such as the latencies of different kinds of operation. It averages
    * every sample in log space, so it moves smoothly where a median jumps
    * between the clusters that the kinds form, and one slow sample moves it
    * by only its own share. */
  def geoMean(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Distinct samples out of `n` strictly above the interpolated `q`
    * percentile. */
  private def above(n: Int, q: Double): Int = n - 1 - math.floor((n - 1) * q / 100.0).toInt

  /** Fewest samples with at least `beyond` of them above the `q` percentile. */
  def samplesForTail(q: Double, beyond: Int): Int =
    Iterator.from(1).find(above(_, q) >= beyond).get

  /** Highest whole percentile of `n` samples with at least `beyond` samples
    * above it (50 if none is). */
  def tailPercentile(n: Int, beyond: Int): Int =
    (50 to 99).filter(above(n, _) >= beyond).lastOption.getOrElse(50)

  /** Total length of the union of half-open spans [start, end), clipped to
    * the window [from, to). Overlapping stages count once, so
    * `wall - unionLength` is the driver time no stage covers. */
  def unionLength(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Order-insensitive digest of a multiset of 64-bit row hashes: the row
    * count and the sums of the low and high 32-bit halves. Summing halves
    * keeps every partial sum far from overflow, so the executors' partial
    * aggregates can be combined in any order. */
  final case class Digest(rows: Long, lo: Long, hi: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, lo + o.lo, hi + o.hi)
    def hex: String = f"$rows%d:$lo%016x:$hi%016x"
  }
  object Digest {
    val empty: Digest = Digest(0, 0, 0)
    def ofHash(h: Long): Digest = Digest(1, h & 0xffffffffL, h >>> 32)
    def of(hashes: Iterable[Long]): Digest =
      hashes.foldLeft(empty)((d, h) => d + ofHash(h))
    /** 64-bit FNV-1a of a string, for driver-side row hashing. */
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.foreach { c => h = (h ^ c) * 0x100000001b3L }
      h
    }
  }

  // ---------------------------------------------------------------- JSON

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

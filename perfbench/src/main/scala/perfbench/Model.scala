package perfbench

/** The generated series data. Row `k` of a series sits at
  * `Base + k` seconds; the write with id `w` gives it the value
  * `k mod 1000 + 1000 * (w mod 1000)`. Values are small integers, so
  * every sum Spark computes over them is exact, and a row's value names
  * the write it came from. */
object Gen {
  val BaseSec = 1704067200L // 2024-01-01T00:00:00Z

  def value(k: Long, w: Long): Double =
    (k % 1000).toDouble + 1000.0 * (w % 1000)

  /** sum of (k mod 1000) over 0 <= k < n */
  def prefixMod(n: Long): Long = {
    val r = n % 1000
    (n / 1000) * 499500L + r * (r - 1) / 2
  }

  /** count of 0 <= k < n with k mod 1000 < 500 */
  def prefixLowHalf(n: Long): Long = (n / 1000) * 500L + math.min(n % 1000, 500L)
}

/** Last-write-wins model of one series: disjoint pieces `[lo, hi]`
  * (inclusive row numbers), each holding the id of the write that
  * last covered it. A write over `[lo, hi]` replaces whatever the range
  * held, the engine's splice semantics for a frame that has a row at
  * every `k` of its range. */
final class SeriesModel private (
    private val pieces: java.util.TreeMap[Long, Array[Long]]) {
  def this() = this(new java.util.TreeMap[Long, Array[Long]]())

  def write(lo: Long, hi: Long, w: Long): Unit = {
    require(lo <= hi, s"empty write [$lo, $hi]")
    // split a piece straddling either bound, then drop the covered ones
    Option(pieces.floorEntry(lo)).foreach { e =>
      val Array(h, pw) = e.getValue
      if (e.getKey < lo && h >= lo) {
        pieces.put(e.getKey, Array(lo - 1, pw))
        if (h > hi) pieces.put(hi + 1, Array(h, pw))
      }
    }
    Option(pieces.floorEntry(hi)).foreach { e =>
      val Array(h, pw) = e.getValue
      if (e.getKey >= lo && h > hi) pieces.put(hi + 1, Array(h, pw))
    }
    pieces.subMap(lo, true, hi, true).clear()
    pieces.put(lo, Array(hi, w))
  }

  /** (lo, hi, w) in row order */
  def segments: Vector[(Long, Long, Long)] = {
    val b = Vector.newBuilder[(Long, Long, Long)]
    pieces.forEach((lo, v) => b += ((lo, v(0), v(1))))
    b.result()
  }

  def rows: Long = segments.map { case (lo, hi, _) => hi - lo + 1 }.sum
  def lastRow: Long = if (pieces.isEmpty) -1L else pieces.lastEntry.getValue()(0)

  def valueAt(k: Long): Option[Double] =
    Option(pieces.floorEntry(k)).collect {
      case e if e.getValue()(0) >= k => Gen.value(k, e.getValue()(1))
    }

  private def overlap(lo: Long, hi: Long): Vector[(Long, Long, Long)] =
    segments.flatMap { case (a, b, w) =>
      val l = math.max(a, lo); val h = math.min(b, hi)
      if (l <= h) Some((l, h, w)) else None
    }

  /** (row count, sum of values) over rows `lo..hi` inclusive */
  def countSum(lo: Long, hi: Long): (Long, Double) =
    overlap(lo, hi).foldLeft((0L, 0.0)) { case ((n, s), (l, h, w)) =>
      val c = h - l + 1
      (n + c, s + (Gen.prefixMod(h + 1) - Gen.prefixMod(l)).toDouble +
        1000.0 * (w % 1000) * c)
    }

  /** rows `lo..hi` whose value mod 1000 is below 500 */
  def countLowHalf(lo: Long, hi: Long): Long =
    overlap(lo, hi).map { case (l, h, _) =>
      Gen.prefixLowHalf(h + 1) - Gen.prefixLowHalf(l) }.sum

  def copy(): SeriesModel = {
    val m = new java.util.TreeMap[Long, Array[Long]]()
    pieces.forEach((k, v) => m.put(k, v.clone()))
    new SeriesModel(m)
  }
}

/** What one partition of a read-back series looked like, measured
  * against the model's pieces. */
final case class PartSummary(rows: Long, first: Long, last: Long,
    unordered: Long, wrong: Long)

object Checks {

  /** Scan one partition of (k, value) rows against `pieces` (the
    * model's `segments`): counts rows out of strict index order and
    * rows whose value is not the one the last covering write gave. */
  def summarise(rows: Iterator[(Long, Double)],
      pieces: Array[(Long, Long, Long)]): PartSummary = {
    val los = pieces.map(_._1)
    var n = 0L; var first = Long.MinValue; var prev = Long.MinValue
    var unordered = 0L; var wrong = 0L
    rows.foreach { case (k, v) =>
      if (n == 0) first = k
      else if (k <= prev) unordered += 1
      val i = java.util.Arrays.binarySearch(los, k)
      val j = if (i >= 0) i else -i - 2
      val ok = j >= 0 && pieces(j)._2 >= k && Gen.value(k, pieces(j)._3) == v
      if (!ok) wrong += 1
      prev = k; n += 1
    }
    PartSummary(n, first, prev, unordered, wrong)
  }

  /** Verdict on a whole read-back series (partitions in read order):
    * None when every row is in index order, carries the last write's
    * value, and no modelled row is missing. */
  def series(parts: Seq[PartSummary], model: SeriesModel): Option[String] = {
    val ne = parts.filter(_.rows > 0)
    val rows = ne.map(_.rows).sum
    val crossOrder = ne.sliding(2).count {
      case Seq(a, b) => b.first <= a.last
      case _ => false
    }
    val unordered = ne.map(_.unordered).sum + crossOrder
    val wrong = ne.map(_.wrong).sum
    if (rows != model.rows)
      Some(s"read back $rows rows, model holds ${model.rows}")
    else if (unordered > 0) Some(s"$unordered rows out of index order " +
      s"(${ne.map(_.unordered).sum} inside partitions, $crossOrder at partition " +
      s"boundaries of ${ne.size})")
    else if (wrong > 0) Some(s"$wrong rows differ from the last write")
    else None
  }

  /** Verdict on an aggregate read: exact (count, sum) match. */
  def countSum(got: (Long, Double), want: (Long, Double)): Option[String] =
    if (got._1 == want._1 && got._2 == want._2) None
    else Some(s"got (count ${got._1}, sum ${got._2}), " +
      s"expected (count ${want._1}, sum ${want._2})")
}

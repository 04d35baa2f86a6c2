package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  private def model(writes: (Long, Long, Long)*): SeriesModel = {
    val m = new SeriesModel
    writes.foreach { case (lo, hi, w) => m.write(lo, hi, w) }
    m
  }

  /** rows the engine should return: every modelled row, in order */
  private def rowsOf(m: SeriesModel): Vector[(Long, Double)] =
    m.segments.flatMap { case (lo, hi, w) => (lo to hi).map(k => (k, Gen.value(k, w))) }

  private def verdict(m: SeriesModel, parts: Seq[Seq[(Long, Double)]]) =
    Checks.series(parts.map(p => Checks.summarise(p.iterator, m.segments.toArray)), m)

  test("the model splices overwrites last-write-wins") {
    val m = model((0, 99, 1), (100, 149, 2), (20, 29, 3), (90, 119, 4), (0, 4, 5))
    assert(m.segments == Vector((0L, 4L, 5L), (5L, 19L, 1L), (20L, 29L, 3L),
      (30L, 89L, 1L), (90L, 119L, 4L), (120L, 149L, 2L)))
    assert(m.rows == 150)
    assert(m.valueAt(25).contains(Gen.value(25, 3)))
    assert(m.valueAt(150).isEmpty)
    // an overwrite strictly inside one piece splits it in three
    val n = model((0, 99, 1), (40, 49, 2))
    assert(n.segments == Vector((0L, 39L, 1L), (40L, 49L, 2L), (50L, 99L, 1L)))
  }

  test("closed-form count and sum match a row-by-row sum") {
    val m = model((0, 2499, 1), (700, 1900, 2), (2500, 2600, 3))
    for ((lo, hi) <- Seq((0L, 2600L), (5L, 1234L), (999L, 1001L), (2550L, 2700L))) {
      val rows = rowsOf(m).filter { case (k, _) => k >= lo && k <= hi }
      assert(m.countSum(lo, hi) == ((rows.size.toLong, rows.map(_._2).sum)))
      assert(m.countLowHalf(lo, hi) == rows.count(r => r._2 % 1000 < 500))
    }
  }

  test("the LWW checker accepts the modelled rows, in one or many partitions") {
    val m = model((0, 999, 1), (100, 199, 2), (1000, 1019, 3))
    val rows = rowsOf(m)
    assert(verdict(m, Seq(rows)).isEmpty)
    assert(verdict(m, rows.grouped(97).toSeq :+ Seq.empty).isEmpty)
  }

  test("the LWW checker rejects a corrupted value, a lost row and a duplicate") {
    val m = model((0, 999, 1), (100, 199, 2))
    val rows = rowsOf(m)
    val stale = rows.updated(150, (150L, Gen.value(150, 1)))
    assert(verdict(m, Seq(stale)).exists(_.contains("differ")))
    assert(verdict(m, Seq(rows.patch(10, Nil, 1))).exists(_.contains("read back")))
    val dup = rows.patch(10, Nil, 1).patch(500, Seq(rows(500)), 0)
    assert(verdict(m, Seq(dup)).isDefined)
  }

  test("the LWW checker rejects rows out of index order") {
    val m = model((0, 999, 1))
    val rows = rowsOf(m)
    val swapped = rows.updated(3, rows(4)).updated(4, rows(3))
    assert(verdict(m, Seq(swapped)).exists(_.contains("out of index order")))
    // partitions each sorted but handed back in the wrong order
    val (a, b) = rows.splitAt(500)
    assert(verdict(m, Seq(b, a)).exists(_.contains("partition boundaries")))
  }

  test("the closed-form checker rejects a wrong count or sum") {
    val m = model((0, 9999, 7))
    val want = m.countSum(100, 5000)
    assert(Checks.countSum(want, want).isEmpty)
    assert(Checks.countSum((want._1 - 1, want._2), want).isDefined)
    assert(Checks.countSum((want._1, want._2 + 1000), want).isDefined)
  }

  test("a thrown op and a wrong result both count as failed, and are not retried") {
    val rec = new Recorder
    var calls = 0
    rec.run("read", 1) { calls += 1; throw new RuntimeException("boom") }(_ => None)
    rec.run("read", 1)((3L, 1.0))(got => Checks.countSum(got, (4L, 1.0)))
    rec.run("read", 1)((4L, 1.0))(got => Checks.countSum(got, (4L, 1.0)))
    assert(calls == 1)
    assert(rec.ops.map(_.ok) == Seq(false, false, true))
    assert(rec.failed == 2)
    assert(rec.ops.head.err.contains("boom"))
  }
}

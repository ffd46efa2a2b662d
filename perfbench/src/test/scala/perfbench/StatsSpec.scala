package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Oracle.Hit

class StatsSpec extends AnyFunSuite {

  test("quantiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("a percentile is reportable only with at least ten samples beyond it") {
    assert(Stats.reportable(20, 50.0))
    assert(!Stats.reportable(19, 50.0))
    assert(Stats.reportable(100, 90.0))
    assert(!Stats.reportable(99, 90.0))
    assert(Stats.reportable(1000, 99.0))
    assert(!Stats.reportable(999, 99.0))
    assert(Stats.highestReportable(99) == None)
    assert(Stats.highestReportable(100) == Some(90.0))
    assert(Stats.highestReportable(5000) == Some(99.0))
    assert(Stats.highestReportable(10000) == Some(99.9))
  }

  test("driver-only time counts overlapping and nested jobs once") {
    // window [0, 100): jobs [10, 40) and [30, 60) overlap, [35, 50) nests
    // inside both, [90, 120) runs past the window's end
    val jobs = Seq((10L, 40L), (30L, 60L), (35L, 50L), (90L, 120L))
    assert(Stats.unionLength(jobs, 0L, 100L) == 60L)
    assert(Stats.driverOnly(jobs, 0L, 100L) == 40L)
    assert(Stats.driverOnly(Nil, 0L, 100L) == 100L)
    // a job before the window and one covering it
    assert(Stats.driverOnly(Seq((-50L, -10L)), 0L, 100L) == 100L)
    assert(Stats.driverOnly(Seq((-5L, 105L)), 0L, 100L) == 0L)
  }

  test("recall counts the true top-k ids each query returned") {
    val truth = Map(1L -> Array(1L, 2L, 3L, 4L), 2L -> Array(5L, 6L, 7L, 8L))
    val got = Map(1L -> Seq(1L, 2L, 3L, 4L), 2L -> Seq(5L, 9L, 6L, 10L))
    assert(Oracle.recall(truth, got) == (1.0 + 0.5) / 2)
    // a query with no answer scores zero; a repeated id counts once
    assert(Oracle.recall(truth, Map(1L -> Seq(1L, 1L, 1L, 1L))) == 0.25 / 2)
  }

  test("the exact oracle ranks by distance, ties by id, and grows with new rows") {
    val corpus = Array(3L -> Array(2f, 0f), 2L -> Array(0f, 1f), 1L -> Array(1f, 0f),
      4L -> Array(-1f, 0f))
    val q = Array(10L -> Array(1f, 0f))
    val cos = Oracle.exactTopK(corpus, q, 2, Oracle.Cosine)
    assert(cos(10L).idArray.toSeq == Seq(1L, 3L)) // both at cosine distance 0
    val l2 = Oracle.exactTopK(corpus, q, 3, Oracle.L2)
    assert(l2(10L).idArray.toSeq == Seq(1L, 3L, 2L)) // squared distances 0, 1, 2
    Oracle.extend(l2, q, Array(5L -> Array(1.1f, 0f)), Oracle.L2)
    assert(l2(10L).idArray.toSeq == Seq(1L, 5L, 3L))
  }

  private val corpus = (1L to 100L).toSet
  private def answer(q: Long, ids: Long*): Seq[Hit] =
    ids.zipWithIndex.map { case (id, i) => Hit(q, id, 0.1 * (i + 1), i + 1) }

  test("a well-formed answer passes the shape check") {
    val hits = answer(1L, 5, 6, 7) ++ answer(2L, 8, 9, 10)
    assert(Oracle.shapeErrors(hits, Seq(1L, 2L), 3, corpus).isEmpty)
  }

  test("the shape check rejects each kind of malformed answer") {
    def errs(hits: Seq[Hit]) = Oracle.shapeErrors(hits, Seq(1L), 3, corpus)
    val good = answer(1L, 5, 6, 7)
    assert(errs(good.take(2)).exists(_.contains("2 rows, expected 3")))
    assert(errs(answer(1L, 5, 6, 5)).exists(_.contains("duplicate ids")))
    assert(errs(answer(1L, 5, 6, 700)).exists(_.contains("not in corpus")))
    assert(errs(good.updated(2, good(2).copy(dist = 0.05))).exists(_.contains("not ascending")))
    assert(errs(good.updated(2, good(2).copy(rank = 5))).exists(_.contains("ranks not")))
    assert(errs(good ++ answer(3L, 5, 6, 7)).exists(_.contains("qid 3: not asked")))
    assert(errs(Nil).exists(_.contains("0 rows")))
  }
}

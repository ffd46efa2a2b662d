package perfbench

/** The benchmark's own correctness oracle: brute-force exact top-k on the
  * driver, the result shape check and recall. Independent of the library
  * under test by construction (plain Scala over the generated arrays). */
object Oracle {

  /** One result row as the library returns it. `dist` is the ranking
    * distance (lower is nearer). */
  final case class Hit(qid: Long, id: Long, dist: Double, rank: Int)

  sealed trait Metric { def dist(a: Array[Float], b: Array[Float]): Double }

  /** 1 - cosine similarity. */
  case object Cosine extends Metric {
    def dist(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - dot / math.sqrt(na * nb)
    }
  }

  /** Squared Euclidean distance. */
  case object L2 extends Metric {
    def dist(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
      s
    }
  }

  /** The k nearest ids seen so far, kept sorted by (dist, id). */
  final class TopK(val k: Int) {
    private val d = new Array[Double](k)
    private val ids = new Array[Long](k)
    private var n = 0

    def offer(id: Long, dist: Double): Unit = {
      if (n == k && !before(dist, id, d(k - 1), ids(k - 1))) return
      var i = if (n < k) n else k - 1
      while (i > 0 && before(dist, id, d(i - 1), ids(i - 1))) {
        d(i) = d(i - 1); ids(i) = ids(i - 1); i -= 1
      }
      d(i) = dist; ids(i) = id
      if (n < k) n += 1
    }

    private def before(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
      d1 < d2 || (d1 == d2 && i1 < i2)

    def idArray: Array[Long] = ids.take(n)
  }

  /** Exact top-k of every query over `corpus`, one [[TopK]] per query id;
    * queries are spread over the available cores. */
  def exactTopK(corpus: Array[(Long, Array[Float])],
                queries: Array[(Long, Array[Float])],
                k: Int, metric: Metric): Map[Long, TopK] = {
    val tops = queries.map(_ => new TopK(k))
    java.util.stream.IntStream.range(0, queries.length).parallel().forEach { qi =>
      val q = queries(qi)._2
      val top = tops(qi)
      corpus.foreach { case (id, v) => top.offer(id, metric.dist(q, v)) }
    }
    queries.iterator.map(_._1).zip(tops.iterator).toMap
  }

  /** Offers `rows` to every query's top-k: the truth after an ingest. */
  def extend(truth: Map[Long, TopK], queries: Array[(Long, Array[Float])],
             rows: Array[(Long, Array[Float])], metric: Metric): Unit =
    queries.foreach { case (qid, q) =>
      val top = truth(qid)
      rows.foreach { case (id, v) => top.offer(id, metric.dist(q, v)) }
    }

  /** Every way `hits` fails to be a well-formed top-k answer for `qids`:
    * exactly k rows per query, ranks 1..k, no duplicate ids, every id in
    * the corpus, distances ascending with rank, and no unasked query. */
  def shapeErrors(hits: Seq[Hit], qids: Seq[Long], k: Int,
                  inCorpus: Long => Boolean): Seq[String] = {
    val byQ = hits.groupBy(_.qid)
    val asked = qids.toSet
    val stray = byQ.keySet.diff(asked).toSeq.sorted.map(q => s"qid $q: not asked")
    stray ++ qids.flatMap { q =>
      val rows = byQ.getOrElse(q, Nil).sortBy(_.rank)
      val errs = Seq.newBuilder[String]
      if (rows.length != k) errs += s"qid $q: ${rows.length} rows, expected $k"
      if (rows.map(_.rank) != (1 to rows.length)) errs += s"qid $q: ranks not 1..${rows.length}"
      if (rows.map(_.id).distinct.length != rows.length) errs += s"qid $q: duplicate ids"
      rows.filterNot(h => inCorpus(h.id)).foreach(h => errs += s"qid $q: id ${h.id} not in corpus")
      if (rows.sliding(2).exists { case Seq(a, b) => !(b.dist >= a.dist); case _ => false })
        errs += s"qid $q: distances not ascending"
      errs.result()
    }
  }

  /** Mean over the truth's queries of |returned ids ∩ true top-k| / k. */
  def recall(truth: Map[Long, Array[Long]], got: Map[Long, Seq[Long]]): Double = {
    require(truth.nonEmpty, "recall over no queries")
    truth.iterator.map { case (q, ids) =>
      val want = ids.toSet
      got.getOrElse(q, Nil).distinct.count(want).toDouble / ids.length
    }.sum / truth.size
  }
}

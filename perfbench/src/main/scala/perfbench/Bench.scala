package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-run bookkeeping shared by the workloads: timing of every call into
  * the library, the traced Spark counters, failures and recall. One
  * client thread drives it (a closed loop), so nothing here is shared. */
final class Bench(spark: SparkSession, tracer: Option[Tracer]) {
  import Bench._

  /** Whether the current round runs under the tracer (the traced run
    * alternates traced and untraced rounds to measure its own cost). */
  var tracing = false

  val ops = mutable.LinkedHashMap.empty[String, OpLog]
  val builds = mutable.LinkedHashMap.empty[String, CallStats]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Per-query recall of every search inside the recall window, by operation. */
  val recalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var recallWindow = false
  /** Set-up work (builds, warm-up) runs its calls unmeasured, and a
    * failure there ends the run. */
  var inSetup = false

  private def timed[T](name: String)(f: => T): (T, Option[CallStats], Double) =
    tracer.filter(_ => tracing) match {
      case Some(t) =>
        val (r, s) = t.measure(name)(f)
        (r, Some(s), s.wallMs)
      case None =>
        val t0 = System.nanoTime()
        val r = f
        (r, None, (System.nanoTime() - t0) / 1e6)
    }

  /** A one-time build inside set-up; when traced, its counters are kept
    * under `name`. */
  def build[T](name: String)(f: => T): T = {
    val (r, s, _) = timed(name)(f)
    s.foreach(builds(name) = _)
    r
  }

  /** One k-NN search call of operation `op`: collects the answer and
    * checks it against the exact truth. A throw or a malformed answer
    * counts as a failed operation, and the loop goes on. */
  def search(op: String, queries: Array[(Long, Array[Float])], truth: Map[Long, Oracle.TopK],
             inCorpus: Long => Boolean)(f: DataFrame => DataFrame): Unit = {
    if (!inSetup) attempted += 1
    val answer = try {
      val (hits, s, ms) = timed(op)(collectHits(f(queryFrame(spark, queries))))
      if (!inSetup) {
        val log = ops.getOrElseUpdate(op, new OpLog)
        log.latMs += ms
        log.queries += queries.length
        s.foreach(log.stats += _)
      }
      Some(hits)
    } catch {
      case e: Exception if !inSetup =>
        failed += 1
        note(s"$op threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
    answer.foreach { hits =>
      val errs = Oracle.shapeErrors(hits.toSeq, queries.map(_._1).toSeq, K, inCorpus)
      if (errs.nonEmpty) {
        if (!inSetup) failed += 1
        note(s"$op: ${errs.length} shape errors, first: ${errs.head}")
      }
      if (recallWindow && !inSetup) {
        val got = hits.groupBy(_.qid).map { case (q, hs) => q -> hs.map(_.id).toSeq }
        val log = recalls.getOrElseUpdate(op, mutable.ArrayBuffer.empty)
        queries.foreach { case (q, _) => log += Oracle.recall(Map(q -> truth(q).idArray), got) }
      }
    }
  }

  def note(msg: String): Unit = if (errors.length < 20) errors += msg
}

object Bench {
  val K = 10

  final class OpLog {
    val latMs = mutable.ArrayBuffer.empty[Double]
    val stats = mutable.ArrayBuffer.empty[CallStats]
    var queries = 0L
  }

  def queryFrame(spark: SparkSession, rows: Array[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(rows.toSeq).toDF("qid", "qvec")

  def vectorFrame(spark: SparkSession, rows: Array[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(rows.toSeq).toDF("id", "vec")

  /** The answer rows; the ranking distance is `dist`, or `score` on the
    * re-ranked PQ tier. */
  def collectHits(df: DataFrame): Array[Oracle.Hit] = {
    val d = if (df.columns.contains("dist")) "dist" else "score"
    df.selectExpr("qid", "id", s"cast($d as double)", "cast(rank as int)").collect()
      .map(r => Oracle.Hit(r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.TempDirs
import graft.hnsw.{HnswDistributed, HnswDurable, HnswModel, HnswParams, HnswRouted, HnswRoutedPq}
import graft.hnsw.HnswDistributed.BuildConfig
import graft.store.ParquetGraphStore

/** One workload: its generated inputs, a set-up that builds the indexes
  * through the library's non-memoized builders, and one round of the
  * closed loop. All inputs derive from the seed. */
trait Workload {
  /** Sizes and shape of the generated inputs, for the output. */
  def facts: Seq[(String, Any)]
  /** Rounds whose answers make up `recall_at_10` (always run in full, so
    * the figure repeats exactly for a seed). */
  def recallRounds: Int
  /** Lowest acceptable recall of each search operation; below it (or
    * with no answer checked) the run is incorrect. */
  def recallFloors: Map[String, Double]
  /** Writes the vector table, builds the indexes, warms up. */
  def setup(b: Bench): Unit
  def round(b: Bench, i: Int): Unit
  /** The durable store's directory, when the workload has one. */
  def storeDir: Option[String] = None
  /** Raw bytes of the vectors the store indexes after set-up. */
  def rawVectorBytes: Long = 0L
}

object Workload {
  val Dim = 64
  val Components = 32

  val names = Seq("serve-memory", "durable-read")
  /** Query ids start here, apart from every corpus id. */
  val QueryIds = 1000000000L
  /** Untimed rounds at the end of set-up. A fresh JVM runs its first
    * rounds far slower (class loading, JIT, plan codegen); warming moves
    * the timed rounds onto the flatter part of that curve, where runs
    * agree more closely. */
  val WarmupRounds = 2

  def apply(name: String, spark: SparkSession, seed: Long): Option[Workload] = name match {
    case "serve-memory" => Some(new ServeMemory(spark, seed))
    case "durable-read" => Some(new DurableRead(spark, seed))
    case _ => None
  }

  /** Writes `rows` as a fresh parquet table and reads it back: the table
    * a user would hand the library. */
  def table(spark: SparkSession, rows: Array[(Long, Array[Float])]): DataFrame = {
    val dir = TempDirs.create("perfbench_vectors_") + "/t"
    Bench.vectorFrame(spark, rows).write.parquet(dir)
    spark.read.parquet(dir)
  }

  def ids(rows: Array[(Long, Array[Float])]): Long => Boolean = {
    val s = rows.iterator.map(_._1).toSet
    s.contains
  }

  /** The regular files under `dir`. */
  def files(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f) else Option(f.listFiles).toSeq.flatten.flatMap(walk)
    walk(new java.io.File(dir))
  }
}

/** In-memory serving: the broadcast HNSW and the two IVF-routed tiers,
  * 256-query batches sent round-robin to the three. */
final class ServeMemory(spark: SparkSession, seed: Long) extends Workload {
  import Workload._
  private val n = 10000
  private val batch = 256
  private val pool = 512
  private val nCells = 16
  private val nProbe = 4
  private val candidates = 64
  private val cosCfg = BuildConfig(HnswParams.standard(64, 32, 32), "cosine")
  private val l2Cfg = cosCfg.copy(metric = "l2")

  private val gen = new Gen(seed, Dim, Components)
  private val corpus = gen.rows(0L, n)
  private val queries = gen.rows(QueryIds, pool)
  private val truthCos = Oracle.exactTopK(corpus, queries, Bench.K, Oracle.Cosine)
  private val truthL2 = Oracle.exactTopK(corpus, queries, Bench.K, Oracle.L2)
  private val inCorpus = ids(corpus)

  private var vectors: DataFrame = _
  private var modelB: org.apache.spark.broadcast.Broadcast[HnswModel] = _
  private var routed: HnswRouted.RoutedIndex = _
  private var pq: HnswRoutedPq.RoutedPqIndex = _

  def facts: Seq[(String, Any)] = Seq("corpus" -> n, "dim" -> Dim, "components" -> Components,
    "query_pool" -> pool, "search_batch" -> batch, "cells" -> nCells, "n_probe" -> nProbe,
    "pq_candidates" -> candidates)
  def recallRounds: Int = pool / batch
  def recallFloors: Map[String, Double] =
    Map("hnsw_search" -> 0.9, "routed_search" -> 0.9, "routed_pq_search" -> 0.6)

  def setup(b: Bench): Unit = {
    vectors = table(spark, corpus)
    val model = b.build("build")(HnswDistributed.build(vectors, cosCfg))
    modelB = b.build("broadcast")(HnswDistributed.broadcastModel(spark, model))
    routed = b.build("routed_build")(HnswRouted.build(vectors, cosCfg, nCells = nCells))
    pq = b.build("routed_pq_build")(HnswRoutedPq.buildSolo(vectors, l2Cfg, nCells = nCells))
    (0 until WarmupRounds).foreach(round(b, _))
  }

  def round(b: Bench, i: Int): Unit = {
    val j = i % (pool / batch)
    val qs = queries.slice(j * batch, (j + 1) * batch)
    b.search("hnsw_search", qs, truthCos, inCorpus)(
      HnswDistributed.searchBroadcast(_, modelB, Bench.K))
    b.search("routed_search", qs, truthCos, inCorpus)(
      HnswRouted.search(routed, _, Bench.K, nProbe = nProbe))
    b.search("routed_pq_search", qs, truthL2, inCorpus)(
      HnswRoutedPq.search(pq, _, vectors, Bench.K, nProbe = nProbe, candidates = candidates))
  }
}

/** Durable reads: 64-query batches against a [[ParquetGraphStore]] built
  * with the catalog's durable configuration. */
final class DurableRead(spark: SparkSession, seed: Long) extends Workload {
  import Workload._
  private val n = 512
  private val batch = 64
  private val pool = 128
  private val ef = 128
  /** The catalog's durable configuration (the `h_knn_durable` row). */
  private val cfg = BuildConfig(HnswParams.standard(efConstruction = 64, efSearch = 128, m = 16),
    metric = "cosine", seedBatch = 256)

  private val gen = new Gen(seed, Dim, Components)
  private val corpus = gen.rows(0L, n)
  private val queries = gen.rows(QueryIds, pool)
  private val truth = Oracle.exactTopK(corpus, queries, Bench.K, Oracle.Cosine)
  private val inCorpus = ids(corpus)

  private var vectors: DataFrame = _
  private var store: ParquetGraphStore = _
  private var dir: String = _

  def facts: Seq[(String, Any)] = Seq("corpus" -> n, "dim" -> Dim, "components" -> Components,
    "query_pool" -> pool, "search_batch" -> batch, "ef" -> ef)
  def recallRounds: Int = pool / batch
  def recallFloors: Map[String, Double] = Map("durable_search" -> 0.9)

  def setup(b: Bench): Unit = {
    vectors = table(spark, corpus)
    dir = TempDirs.create("perfbench_store_")
    store = b.build("durable_build")(HnswDurable.build(vectors, dir, cfg))
    (0 until WarmupRounds).foreach(round(b, _))
  }

  def round(b: Bench, i: Int): Unit = {
    val j = i % (pool / batch)
    val qs = queries.slice(j * batch, (j + 1) * batch)
    b.search("durable_search", qs, truth, inCorpus)(
      HnswDurable.search(store, vectors, _, Bench.K, ef))
  }

  override def storeDir: Option[String] = Option(dir)
  override def rawVectorBytes: Long = n.toLong * Dim * 4
}

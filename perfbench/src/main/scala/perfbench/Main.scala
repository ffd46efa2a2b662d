package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One benchmark run: one workload, one seed, a closed loop with one
  * client for `--seconds`, then one JSON result line. Run through
  * `python3 perfbench/run.py`, which builds the classpath first.
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` prints the
  * per-layer metrics, from rounds that alternate with the listener on and
  * off, and the tracing overhead between the two. Exit code 1 when an
  * answer was wrong, 2 on bad arguments. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        out: String, commit: String)

  def parse(argv: Array[String]): Either[String, Args] = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = kv.get(k).toRight(s"missing --$k")
    for {
      w <- get("workload")
      s <- get("seed").flatMap(v => v.toLongOption.toRight(s"bad --seed $v"))
      sec <- get("seconds").flatMap(v => v.toIntOption.filter(_ > 0).toRight(s"bad --seconds $v"))
      t <- get("trace").flatMap {
        case "0" => Right(false); case "1" => Right(true); case v => Left(s"bad --trace $v")
      }
    } yield Args(w, s, sec, t, kv.getOrElse("out", "."), kv.getOrElse("commit", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv) match {
      case Right(a) if Workload.names.contains(a.workload) => a
      case Right(a) => fail(s"unknown workload ${a.workload}; one of ${Workload.names.mkString(", ")}")
      case Left(msg) => fail(msg)
    }
    // a graft.* system property silently changes library behaviour (the
    // frontier layout override among them): such a run measures something else
    val props = System.getProperties.stringPropertyNames.toArray.map(_.toString)
      .filter(_.startsWith("graft.")).sorted
    if (props.nonEmpty) fail(s"graft.* system properties are set: ${props.mkString(", ")}")

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkEntry.applyConfigs(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try run(spark, cores, args) finally spark.stop()
    System.exit(code)
  }

  /** A timing's sample count, median and the highest tail percentile
    * with at least ten samples beyond it. */
  def latencyFacts(name: String, ms: Seq[Double]): Seq[(String, Any)] =
    if (ms.isEmpty) Nil
    else Seq(s"$name.samples" -> ms.length, s"$name.p50_ms" -> Stats.median(ms)) ++
      Stats.highestReportable(ms.length).map { p =>
        s"$name.p${p.toString.stripSuffix(".0")}_ms" -> Stats.quantile(ms, p / 100)
      }

  private def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.exit(2)
    throw new IllegalStateException(msg)
  }

  def run(spark: SparkSession, cores: Int, args: Args): Int = {
    val calib0 = (Calib.cpuMs(), Calib.memMs())
    val wl = Workload(args.workload, spark, args.seed).get
    val tracer = if (args.trace) Some(new Tracer(spark, cores)) else None
    val b = new Bench(spark, tracer)

    b.tracing = tracer.isDefined
    tracer.foreach(_.enable(true))
    b.inSetup = true
    val t0 = System.nanoTime()
    tracer.fold(wl.setup(b))(_.span("setup")(wl.setup(b)))
    val setupS = (System.nanoTime() - t0) / 1e9
    b.inSetup = false
    val storeFiles = wl.storeDir.map(Workload.files).getOrElse(Nil)
    val heapLiveMb = Calib.liveHeapMb()
    val heapMaxMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getMax / 1048576.0

    val tracedRounds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val plainRounds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    var i = 0
    while (i < wl.recallRounds || System.nanoTime() < deadline) {
      b.recallWindow = i < wl.recallRounds
      b.tracing = tracer.isDefined && i % 2 == 0
      tracer.foreach(_.enable(b.tracing))
      val t0 = System.nanoTime()
      tracer.filter(_ => b.tracing).fold(wl.round(b, i))(_.span("round")(wl.round(b, i)))
      (if (b.tracing) tracedRounds else plainRounds) += (System.nanoTime() - t0) / 1e6
      i += 1
    }
    tracer.foreach(_.enable(false))
    val calib1 = (Calib.cpuMs(), Calib.memMs())

    val perQuery = b.recalls.values.flatten
    val recall = if (perQuery.isEmpty) 0.0 else perQuery.sum / perQuery.size
    val opRecall = b.recalls.map { case (op, r) => op -> r.sum / r.size }
    val lowRecall = wl.recallFloors.filter { case (op, floor) =>
      !opRecall.get(op).exists(_ >= floor)
    }
    lowRecall.foreach { case (op, floor) =>
      b.note(s"$op recall ${opRecall.getOrElse(op, 0.0)} below $floor")
    }
    val correct = b.failed == 0 && b.attempted > 0 && lowRecall.isEmpty
    b.errors.foreach(e => System.err.println(s"perfbench: $e"))

    val facts = Seq[(String, Any)]("workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace, "k" -> Bench.K) ++ wl.facts ++ Seq(
      "nproc" -> cores, "heap_max_mb" -> heapMaxMb, "git_commit" -> args.commit,
      "rounds" -> i,
      "cpu_calib_ms_before" -> calib0._1, "cpu_calib_ms_after" -> calib1._1,
      "mem_calib_ms_before" -> calib0._2, "mem_calib_ms_after" -> calib1._2,
      "fail_frac" -> b.failed.toDouble / math.max(1L, b.attempted)) ++
      opRecall.map { case (op, r) => s"recall.$op" -> r } ++
      b.ops.flatMap { case (op, log) => latencyFacts(op, log.latMs.toSeq) } ++
      latencyFacts("round", plainRounds.toSeq)
    println(Json.obj(Seq("facts" -> Json.Raw(Json.obj(facts)))))

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) {
        val qps = b.ops.values.map(_.queries).sum / (b.ops.values.flatMap(_.latMs).sum / 1000.0)
        Seq(("setup_s", setupS, "s"),
          ("round_p50_ms", Stats.median(plainRounds.toSeq), "ms"),
          ("qps", qps, "1/s"),
          ("recall_at_10", recall, "ratio"),
          ("heap_live_mb", heapLiveMb, "MB"))
      } else {
        tracer.foreach(_.writeSpans(java.nio.file.Paths.get(args.out,
          s"spans-${args.workload}-${args.seed}.jsonl")))
        PerLayer.metrics(b, wl, storeFiles, tracedRounds.toSeq, plainRounds.toSeq)
      }
    val result = Json.obj(Seq("correct" -> correct, "attempted" -> b.attempted,
      "failed" -> b.failed, "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      }))))
    println(result)
    if (correct) 0 else 1
  }
}

/** The per-layer metrics of a traced run, named `<layer>.<op>.<metric>`:
  * per-call medians of the traced calls, zero for an operation the
  * workload does not run. */
object PerLayer {
  val Ops = Seq("hnsw_search", "routed_search", "routed_pq_search", "durable_search")
  /** Build name -> the name of its wall-time metric and that metric's scale. */
  val Builds = Seq(("build", "hnsw.build_s", 1e-3, "s"),
    ("broadcast", "hnsw.broadcast_ms", 1.0, "ms"),
    ("routed_build", "hnsw.routed_build_s", 1e-3, "s"),
    ("routed_pq_build", "hnsw.routed_pq_build_s", 1e-3, "s"),
    ("durable_build", "hnsw.durable_build_s", 1e-3, "s"))

  def unit(field: String): String =
    if (field.endsWith("_ms")) "ms" else if (field.endsWith("_mb")) "MB"
    else if (field == "busy_frac") "ratio" else "count"

  private def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  def metrics(b: Bench, wl: Workload, storeFiles: Seq[java.io.File],
              traced: Seq[Double], plain: Seq[Double]): Seq[(String, Double, String)] = {
    val storeBytes = storeFiles.map(_.length).sum
    val perOp = Ops.flatMap { op =>
      val stats = b.ops.get(op).map(_.stats.toSeq).getOrElse(Nil)
      (s"hnsw.$op.p50_ms", med(stats.map(_.wallMs)), "ms") +:
        CallStats.names.map(f => (s"spark.$op.$f", med(stats.map(_.field(f))), unit(f)))
    }
    val builds = Builds.flatMap { case (name, metric, scale, u) =>
      val s = b.builds.getOrElse(name, CallStats.zero)
      Seq((metric, s.wallMs * scale, u),
        (s"spark.$name.jobs", s.jobs.toDouble, "count"),
        (s"spark.$name.task_run_ms", s.taskRunMs, "ms"),
        (s"spark.$name.driver_only_ms", s.driverOnlyMs, "ms"),
        (s"spark.$name.rule_ms", s.ruleMs, "ms"))
    }
    val store = Seq(("store.bytes", storeBytes.toDouble, "bytes"),
      ("store.files", storeFiles.length.toDouble, "count"),
      ("store.amp", if (wl.rawVectorBytes > 0) storeBytes.toDouble / wl.rawVectorBytes else 0.0,
        "ratio"))
    val overhead = if (traced.isEmpty || plain.isEmpty) 0.0
      else (Stats.median(traced) / Stats.median(plain) - 1.0) * 100.0
    perOp ++ builds ++ store :+ (("trace.overhead_pct", overhead, "%"))
  }
}

/** Host weather stamps: a fixed single-thread integer loop and a fixed
  * pointer chase through 32 MiB, each the minimum of three trials. And
  * the live heap. */
object Calib {
  /** Heap in use right after a full collection, as the collector itself
    * reports it (allocation after the collection does not count); the
    * least of three collections, each after a pause in which Spark's
    * cleaner drops the blocks of collected datasets. */
  def liveHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      System.gc()
      val after = java.lang.management.ManagementFactory
        .getPlatformMXBeans(classOf[com.sun.management.GarbageCollectorMXBean]).asScala
        .flatMap(b => Option(b.getLastGcInfo)).maxBy(_.getEndTime)
        .getMemoryUsageAfterGc.asScala
      after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1048576.0
    }.min
  }

  def cpuMs(): Double = (1 to 3).map { _ =>
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 20000000) { h = (h ^ i) * 0x100000001B3L; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e6
    if (h == 42L) System.err.print("")
    dt
  }.min

  private lazy val chase: Array[Int] = {
    val n = 8 * 1024 * 1024
    val a = Array.tabulate(n)(identity)
    val rng = new java.util.Random(7L)
    var i = n - 1
    while (i > 0) { // Sattolo: one cycle through every slot
      val j = rng.nextInt(i)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  def memMs(): Double = (1 to 3).map { _ =>
    val a = chase
    var p = 0
    var i = 0
    val t0 = System.nanoTime()
    while (i < 1000000) { p = a(p); i += 1 }
    val dt = (System.nanoTime() - t0) / 1e6
    if (p == -1) System.err.print("")
    dt
  }.min
}

/** Just enough JSON for flat objects of numbers, strings and booleans. */
object Json {
  final case class Raw(s: String)

  def value(v: Any): String = v match {
    case Raw(s) => s
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s => "\"" + s.toString.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }

  def obj(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

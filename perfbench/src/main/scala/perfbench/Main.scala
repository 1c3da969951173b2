package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbenchglue.Bus
import org.apache.spark.sql.SparkSession

import graft.tools.CodegenGuard

/** The benchmark's JVM. `run.py` starts it twice per run: with
  * `--mode prepare` for one set-up sample and the inputs, then to measure.
  * Prints its result as a `PERFBENCH_RESULT` line, which run.py completes
  * with the median set-up time. */
object Main {
  /** Input sizes, chosen so one iteration is well under a second on a
    * 4-core box and a run holds tens of iterations. */
  val NestedSizes: Gen.NestedSizes = Gen.NestedSizes(orders = 8000, jsonOrders = 1600, files = 4)
  val CurateSizes: Gen.CurateSizes = Gen.CurateSizes(docs = 600, evalDocs = 40, files = 4)
  val DedupSizes: Gen.DedupSizes = Gen.DedupSizes(corpus = 3000, batch = 200, batches = 5, files = 4)

  /** The tail needs ten samples beyond it; the loop always runs one more. */
  val MinIterations = 11
  val MinTracedIterations = 3

  final case class Iter(i: Int, wallS: Double, cpuS: Double, error: Option[String])

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def session(root: File, cores: Int): SparkSession = {
    val build = new File(root, ".bench_build")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(build, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(build, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    CodegenGuard.install()
    spark
  }

  def workload(name: String, spark: SparkSession, root: File, seed: Long): Workload = {
    val data = new File(root, ".bench_build/data")
    val out = new File(root, s".bench_build/out/$name")
    data.mkdirs()
    name match {
      case "nested_ingest" => new NestedIngest(spark, Gen.nested(spark, data, seed, NestedSizes))
      case "curate_batch" => new CurateBatch(spark, Gen.curate(spark, data, seed, CurateSizes), out)
      case "dedup_increment" => new DedupIncrement(spark, Gen.dedup(spark, data, seed, DedupSizes), out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** Closed loop: one caller, the next iteration starts when the last
    * ends; runs for `seconds` and at least `minIter` iterations. An
    * iteration fails when it throws (a failed output check included) or
    * when the codegen guard counts a fallback during it. */
  def loop(w: Workload, t: Tracer, seconds: Double, minIter: Int, first: Int,
           after: Int => Unit = _ => ()): Seq[Iter] = {
    val out = ArrayBuffer.empty[Iter]
    val start = System.nanoTime()
    while (out.size < minIter || (System.nanoTime() - start) / 1e9 < seconds) {
      val i = first + out.size
      w.beforeIteration()
      t.iter = i
      val guard0 = CodegenGuard.errorCount
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val err =
        try { t.span("iteration", "other")(w.iterate(i, t)); None }
        catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val guard = CodegenGuard.errorCount - guard0
      out += Iter(i, wall, cpu, err.orElse(if (guard > 0) Some(s"$guard codegen fallback(s)") else None))
      after(i)
    }
    out.toSeq
  }

  def peakRssMb: Double =
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val root = new File(opts("root")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(root, cores)
    // the trivial job: one task per core, no SQL planning (that first
    // query's cost belongs to the cold iteration)
    spark.sparkContext.parallelize(1 to cores, cores).count()
    val setupS = (epochNanos - opts("t0-ns").toLong) / 1e9
    val name = opts("workload")
    val seed = opts("seed").toLong
    if (opts.get("mode").contains("prepare")) {
      // a set-up sample, then the run's inputs: generating them here keeps
      // the measured JVM's warm-up the same whether or not they were cached
      println("PERFBENCH_SETUP " + Json.render(Map("setup_s" -> setupS)))
      val g0 = System.nanoTime()
      workload(name, spark, root, seed)
      System.err.println(f"[perfbench] inputs ready in ${(System.nanoTime() - g0) / 1e9}%.2f s")
      exit()
    }
    val seconds = opts("seconds").toDouble
    val w = workload(name, spark, root, seed)
    val off = new Tracer(false)

    val untraced = loop(w, off, seconds, MinIterations, 0)
    val walls = untraced.map(_.wallS)
    var all = untraced
    val metrics: Seq[(String, Double, String)] =
      if (opts("trace") != "1") {
        val (tail, pct) = Stats.tail(walls).get
        println("PERFBENCH_DETAIL " + Json.render(Map("workload" -> name, "seed" -> seed,
          "samples" -> walls.size, "wall_tail_percentile" -> pct, "wall_tail_beyond" -> 10,
          "cold_s" -> walls.head, "walls_s" -> walls, "cpus_s" -> untraced.map(_.cpuS),
          "errors" -> untraced.flatMap(_.error).distinct.take(5))))
        Seq(("wall_s", Stats.median(walls), "s"),
          ("wall_tail_s", tail, "s"),
          ("records_per_s", w.records / Stats.median(walls), "rec/s"),
          ("cpu_s", Stats.median(untraced.map(_.cpuS)), "s"),
          ("peak_rss_mb", peakRssMb, "MB"),
          ("setup_s", setupS, "s"))
      } else {
        val (m, tracedIters) = traced(spark, w, name, seed, seconds, root, cores, untraced)
        all = untraced ++ tracedIters
        m
      }
    val failed = all.count(_.error.nonEmpty)
    all.flatMap(_.error).distinct.take(5).foreach(e => System.err.println(s"[perfbench] failed: $e"))
    println("PERFBENCH_RESULT " + Json.render(Map(
      "correct" -> (failed == 0),
      "attempted" -> all.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
    exit()
  }

  /** End the JVM once its output is out: nothing after this is measured,
    * and run.py clears Spark's scratch directories before the next run. */
  private def exit(): Nothing = {
    System.out.flush()
    Runtime.getRuntime.halt(0)
    throw new IllegalStateException("unreachable")
  }

  /** The traced run: the untraced loop has run; now trace `seconds` more
    * iterations and reduce them to the per-layer metrics. */
  private def traced(spark: SparkSession, w: Workload, name: String, seed: Long, seconds: Double,
                     root: File, cores: Int, untraced: Seq[Iter]): (Seq[(String, Double, String)], Seq[Iter]) = {
    val sc = spark.sparkContext
    val collector = new Collector
    sc.addSparkListener(collector)
    spark.listenerManager.register(collector)
    // a cleared cache makes the first traced iteration rebuild what
    // the workload caches, so its materialization is measured
    spark.catalog.clearCache()
    val epoch0 = epochNanos / 1e6
    val nano0 = System.nanoTime()
    val held = scala.collection.mutable.Map.empty[Int, Double]
    val setGroup: Option[String] => Unit =
      _.fold(sc.clearJobGroup())(g => sc.setJobGroup(g, "", interruptOnCancel = false))
    val tracer = new Tracer(true, setGroup, s => if (s.parent == 0) {
      Bus.drain(sc)
      collector.claimPlans(s.id)
      held(s.iter) = collector.heldBytes / Layers.MB
    })
    val counts = scala.collection.mutable.Map.empty[Int, Map[String, Double]]
    val tracedIters = loop(w, tracer, seconds, MinTracedIterations, untraced.size,
      i => counts(i) = w.iterationCounts)
    Bus.drain(sc)
    val all = untraced ++ tracedIters
    val fallbacks = tracedIters.map(it => it.i -> it.error.count(_.contains("codegen fallback"))).toMap
    val perIter = tracedIters.map { it =>
      val ss = tracer.spans.filter(_.iter == it.i).toSeq
      Layers.iteration(ss, collector, cores, counts.getOrElse(it.i, Map.empty),
        n => epoch0 + (n - nano0) / 1e6) ++
        Map("cache.held_mb" -> held.getOrElse(it.i, 0.0),
          "spark.codegen_fallbacks" -> fallbacks(it.i).toDouble)
    }
    val extra = w.extraCounts()
    writeSpans(new File(root, s".bench_build/trace/$name-s$seed.jsonl"), tracer.spans.toSeq, collector)
    val med = Layers.Units.map(_._1).map { k =>
      k -> Stats.median(perIter.map(_.getOrElse(k, 0.0)))
    }.toMap
    val tracedWall = Stats.median(tracedIters.map(_.wallS))
    val fixed = Map(
      "trace.overhead_s" -> (tracedWall - Stats.median(untraced.map(_.wallS))),
      "cold_s" -> untraced.head.wallS,
      "failed_ops_ratio" -> all.count(_.error.nonEmpty).toDouble / all.size,
      "dedup.corpus_index_s" ->
        (if (name == "dedup_increment") perIter.head("cache.materialize_s") else 0.0)) ++ extra ++
      extra.get("dedup.pairs").map(p => "dedup.pair_yield" -> p / math.max(1.0, extra("dedup.candidate_pairs")))
    println("PERFBENCH_DETAIL " + Json.render(Map("workload" -> name, "seed" -> seed,
      "traced_iterations" -> tracedIters.size, "untraced_iterations" -> untraced.size,
      "traced_walls_s" -> tracedIters.map(_.wallS),
      "errors" -> all.flatMap(_.error).distinct.take(5))))
    (Layers.Units.map { case (k, u) => (k, fixed.getOrElse(k, med(k)), u) }, tracedIters)
  }

  def epochNanos: Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  private def writeSpans(f: File, spans: Seq[Span], c: Collector): Unit = {
    f.getParentFile.mkdirs()
    val self = Span.selfTimes(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val pw = new PrintWriter(f)
    try spans.sortBy(_.start).foreach { s =>
      val cost = c.costOf(s.id)
      pw.println(Json.render(Map("id" -> s.id, "parent" -> s.parent, "iter" -> s.iter,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> (s.start - t0) / 1e6,
        "dur_ms" -> s.dur / 1e6, "self_ms" -> self(s.id) / 1e6,
        "jobs" -> cost.jobs, "tasks" -> cost.tasks, "task_cpu_ms" -> cost.taskCpuNs / 1e6)))
    } finally pw.close()
  }
}

/** Just enough JSON for the benchmark's own output. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => render(other.toString)
  }
}

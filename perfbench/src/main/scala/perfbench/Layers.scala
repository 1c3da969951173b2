package perfbench

/** Per-layer metrics of one traced iteration, from its spans, the costs
  * [[Collector]] attributed to them, and the counts the workload saw. */
object Layers {
  val MB: Double = 1024.0 * 1024.0
  val Formats: Seq[String] = Seq("parquet", "avro", "json", "arrow", "pbd")
  val TracedLayers: Seq[String] = Seq("sources", "flatten", "curation", "dedup", "packing", "sink", "other")

  /** Every per-layer metric with its unit, in report order. */
  val Units: Seq[(String, String)] =
    Formats.flatMap(f => Seq(s"sources.$f.decode_s" -> "s", s"sources.$f.records_per_s" -> "rec/s")) ++ Seq(
      "sources.plan_s" -> "s", "sources.input_mb" -> "MB",
      "flatten.plan_s" -> "s", "flatten.self_s" -> "s", "flatten.rows_per_s" -> "rows/s",
      "flatten.rows_out" -> "count", "flatten.dropped_parents" -> "count",
      "clusions.leaves_kept" -> "count", "clusions.leaves_pruned" -> "count",
      "curation.tokenize_s" -> "s", "curation.quality_filter_s" -> "s",
      "curation.near_dedup_s" -> "s", "curation.decontaminate_s" -> "s",
      "curation.input.rows_out" -> "count", "curation.quality_filter.rows_out" -> "count",
      "curation.near_dedup.rows_out" -> "count", "curation.decontaminate.rows_out" -> "count",
      "dedup.candidate_pairs" -> "count", "dedup.pairs" -> "count", "dedup.pair_yield" -> "ratio",
      "dedup.cc_jobs" -> "count", "dedup.probe_s" -> "s", "dedup.corpus_index_s" -> "s",
      "sink.write_s" -> "s", "sink.mb_written" -> "MB", "sink.files" -> "count",
      "cache.hit_ratio" -> "ratio", "cache.materialize_s" -> "s", "cache.held_mb" -> "MB",
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_deser_s" -> "s",
      "spark.sched_wait_s" -> "s", "spark.driver_s" -> "s", "spark.task_cpu_s" -> "s",
      "spark.core_busy_share" -> "ratio", "spark.stage_skew" -> "ratio",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
      "spark.gc_s" -> "s", "spark.codegen_stages" -> "count", "spark.codegen_fallbacks" -> "count",
      "plan.scan_rows" -> "count", "plan.generate_rows" -> "count",
      "plan.cache_scan_rows" -> "count", "plan.exchange_mb" -> "MB",
      "trace.wall_s" -> "s", "trace.overhead_s" -> "s") ++
      TracedLayers.map(l => s"trace.self.${l}_s" -> "s") ++
      Seq("failed_ops_ratio" -> "ratio", "cold_s" -> "s")

  def iteration(ss: Seq[Span], c: Collector, cores: Int, counts: Map[String, Double],
                epochMs: Long => Double): Map[String, Double] = {
    val root = ss.find(_.parent == 0).get
    val byId = ss.map(s => s.id -> s).toMap
    val costs = ss.map(s => c.costOf(s.id))
    def sec(s: Span): Double = s.dur / 1e9
    def total(f: Cost => Long): Double = costs.map(f).sum.toDouble
    def kidsSec(parent: String => Boolean, kid: String): Double =
      ss.filter(s => s.name == kid && byId.get(s.parent).exists(p => parent(p.name))).map(sec).sum
    def kidSec(parent: String, kid: String): Double = kidsSec(_ == parent, kid)
    def named(p: String => Boolean): Seq[Span] = ss.filter(s => p(s.name))
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

    val decode = Formats.map(f => f -> kidSec(s"sources.$f", "execute")).toMap
    val passes = ss.filter(_.name.startsWith("flatten.")).map(_.name.stripPrefix("flatten."))
    val flattenSelf = passes.map(x => kidSec(s"flatten.$x", "execute") - kidSec(s"sources.$x", "execute")).sum
    val rowsOut = counts.collect { case (k, v) if k.startsWith("rows.") => v }.sum

    val firstRef = costs.flatMap(_.cacheRefs).groupBy(_._1).values.map(_.minBy(_._3))
    val refBytes = firstRef.map { case (rdd, hit, _) => (hit, c.bytesOf(rdd).toDouble) }
    val stageSkew = costs.flatMap(_.stageTasks).filter(_._2.size >= 2).map { case (_, ds) =>
      ds.max / math.max(1.0, Stats.median(ds.map(_.toDouble).toSeq))
    }.foldLeft(0.0)(math.max)
    val jobsCovered = Stats.covered(costs.flatMap(_.jobIntervals).toSeq,
      epochMs(root.start).toLong, epochMs(root.end).toLong) / 1000.0
    val plans = c.plansOf(root.id)
    val nearDedup = named(_ == "curation.near_dedup").map(_.id).toSet
    val self = Span.layerSelf(ss)

    Formats.flatMap { f =>
      Seq(s"sources.$f.decode_s" -> decode(f),
        s"sources.$f.records_per_s" -> ratio(counts.getOrElse(s"decoded.$f", 0.0), decode(f)))
    }.toMap ++ Map(
      "sources.plan_s" -> kidsSec(_.startsWith("sources."), "plan"),
      "sources.input_mb" -> total(_.inputBytes) / MB,
      "flatten.plan_s" -> kidsSec(_.startsWith("flatten."), "plan"),
      "flatten.self_s" -> flattenSelf,
      "flatten.rows_out" -> rowsOut,
      "flatten.rows_per_s" -> ratio(rowsOut, flattenSelf),
      "curation.tokenize_s" -> named(_ == "curation.tokenize").map(sec).sum,
      "curation.quality_filter_s" -> named(_ == "curation.quality_filter").map(sec).sum,
      "curation.near_dedup_s" -> named(_ == "curation.near_dedup").map(sec).sum,
      "curation.decontaminate_s" -> named(_ == "curation.decontaminate").map(sec).sum,
      "dedup.cc_jobs" -> ss.filter(s => nearDedup(s.id) || nearDedup(s.parent)).map(s => c.costOf(s.id).jobs).sum.toDouble,
      "dedup.probe_s" -> named(_ == "dedup.probe").map(sec).sum,
      "sink.write_s" -> named(_.startsWith("sink.")).map(sec).sum,
      "sink.mb_written" -> named(_.startsWith("sink.")).map(s => c.costOf(s.id).outputBytes).sum / MB,
      "cache.hit_ratio" -> ratio(refBytes.filter(_._1).map(_._2).sum, refBytes.map(_._2).sum),
      "cache.materialize_s" -> total(_.materializeMs) / 1000,
      "spark.jobs" -> total(_.jobs),
      "spark.tasks" -> total(_.tasks),
      "spark.task_deser_s" -> total(_.deserMs) / 1000,
      "spark.sched_wait_s" -> total(_.schedMs) / 1000,
      "spark.driver_s" -> math.max(0.0, sec(root) - jobsCovered),
      "spark.task_cpu_s" -> total(_.taskCpuNs) / 1e9,
      "spark.core_busy_share" -> ratio(total(_.taskDurMs) / 1000, cores * sec(root)),
      "spark.stage_skew" -> stageSkew,
      "spark.shuffle_write_mb" -> total(_.shuffleWrite) / MB,
      "spark.shuffle_read_mb" -> total(_.shuffleRead) / MB,
      "spark.spill_mb" -> total(_.spill) / MB,
      "spark.gc_s" -> total(_.gcMs) / 1000,
      "spark.codegen_stages" -> plans.map(_.codegenStages).sum.toDouble,
      "plan.scan_rows" -> plans.map(_.scanRows).sum.toDouble,
      "plan.generate_rows" -> plans.map(_.generateRows).sum.toDouble,
      "plan.cache_scan_rows" -> plans.map(_.cacheScanRows).sum.toDouble,
      "plan.exchange_mb" -> plans.map(_.exchangeBytes).sum / MB,
      "trace.wall_s" -> sec(root)) ++
      TracedLayers.map(l => s"trace.self.${l}_s" -> self.getOrElse(l, 0L) / 1e9) ++
      counts.filterNot(kv => kv._1.startsWith("rows.") || kv._1.startsWith("decoded."))
  }
}

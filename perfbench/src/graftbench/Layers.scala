package graftbench

/** The per-layer metric set of a traced run, named by graft module. A
  * workload prints every name; a layer it does not exercise reads 0. */
object Layers {
  val backends: Seq[String] = Seq("pre_filter", "post_filter", "ivf", "ivfpq")

  val setupPhases: Seq[String] =
    Seq("ram_pin", "ivf_build", "pq_build", "ivfpq_build", "curate", "warmup")

  /** Spans whose self time (duration minus child spans, mean per
    * occurrence) is reported as `<span>.self_ms`: the operation spans
    * (benchmark-side glue) and the spans that have children. */
  val selfSpans: Seq[String] = Seq("search", "read", "ingest",
    "search.ivf", "search.ivf.scan", "search.ivfpq", "search.ivfpq.adc", "search.ivfpq.refine")

  val all: Seq[(String, String)] =
    Seq("filters.compile_ms" -> "ms", "filters.ram_path_frac" -> "ratio") ++
      backends.flatMap(b => Seq(s"search.$b.p50_ms" -> "ms",
        s"search.$b.scored_vectors" -> "count", s"search.$b.recall" -> "ratio")) ++
      Seq("search.ivf.probe_ms" -> "ms", "search.ivfpq.probe_ms" -> "ms",
        "search.post_filter.retries" -> "count", "search.post_filter.kept_ratio" -> "ratio",
        "search.recall_at_k" -> "ratio",
        "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
        "spark.tasks_per_op" -> "count", "spark.plan_ms" -> "ms", "spark.job_wall_ms" -> "ms",
        "spark.task_run_ms" -> "ms", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
        "spark.input_mb" -> "MB", "spark.gc_ms" -> "ms", "spark.cached_mb" -> "MB",
        "ingest.p50_ms" -> "ms", "ingest.rows_per_s" -> "1/s", "ingest.land_ms" -> "ms",
        "ingest.ivf_append_ms" -> "ms", "ingest.ivfpq_append_ms" -> "ms",
        "ingest.ram_pin_ms" -> "ms", "ingest.dedup_incremental_ms" -> "ms",
        "ingest.band_union_ms" -> "ms", "ingest.jobs_per_op" -> "count",
        "dedup.exact_s" -> "s", "dedup.bands_s" -> "s", "dedup.mine_s" -> "s",
        "dedup.clusters_s" -> "s", "dedup.band_collisions" -> "count",
        "dedup.verify_yield" -> "ratio", "dedup.docs_per_s" -> "1/s",
        "dedup.pair_recall" -> "ratio") ++
      setupPhases.map(p => s"setup.${p}_s" -> "s") ++
      Seq("setup.artifact_builds" -> "count", "trace.overhead_frac" -> "ratio") ++
      selfSpans.map(s => s"$s.self_ms" -> "ms")

  /** Scheduler and planner work per operation of `kind`. */
  def spark(ctx: Ctx, kind: String, n: Int): Map[String, Double] =
    ctx.sparkByKind.get(kind).filter(_ => n > 0).map { s =>
      val mb = 1048576.0
      Map("spark.jobs_per_op" -> s.jobs.toDouble / n, "spark.stages_per_op" -> s.stages.toDouble / n,
        "spark.tasks_per_op" -> s.tasks.toDouble / n, "spark.plan_ms" -> s.planMs / n,
        "spark.job_wall_ms" -> s.jobWallMs / n, "spark.task_run_ms" -> s.taskRunMs / n,
        "spark.shuffle_write_mb" -> s.shuffleWriteB / mb / n, "spark.spill_mb" -> s.spillB / mb / n,
        "spark.input_mb" -> s.inputB / mb / n, "spark.gc_ms" -> s.gcMs / n)
    }.getOrElse(Map.empty) ++
      ctx.sparkByKind.get("ingest").map(s =>
        "ingest.jobs_per_op" -> s.jobs.toDouble / ctx.lat.get("ingest").map(_.length).getOrElse(1))

  def selfTimes(ctx: Ctx): Map[String, Double] = {
    val self = ctx.tracer.selfMs
    val n = ctx.tracer.counts
    selfSpans.flatMap(s => self.get(s).map(t => s"$s.self_ms" -> t / n(s))).toMap
  }

  /** Index artifacts of one setup: those the last setup rep wrote plus
    * any that graft's own caches persisted under java.io.tmpdir. */
  def artifactBuilds(work: String): Int = {
    def dirs(p: String): Seq[java.io.File] =
      Option(new java.io.File(p).listFiles()).toSeq.flatten.filter(_.isDirectory)
    val own = dirs(s"$work/artifacts").sortBy(_.getName).lastOption.toSeq.flatMap(rep => dirs(rep.getPath))
    val cache = dirs(s"$work/tmp").filter(_.getName.startsWith("graft-")).flatMap(d => dirs(d.getPath))
    own.length + cache.length
  }
}

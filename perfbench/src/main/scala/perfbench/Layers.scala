package perfbench

/** The traced phase of a run and the per-layer metrics derived from it.
  *
  * Layers are the library's modules, named as in its source tree; a job
  * counts against the module in its call site (see [[Tracer.layerOf]]).
  * Every count is a per-operation average over a fixed, seed-determined
  * list of operations, so two traced runs with one seed agree exactly. */
object Layers {
  val modules = Seq("Embedder", "Collections", "KnnSearch", "IvfIndex", "NswIndex",
    "PqCodebooks", "RecallEval", "SnapshotLayout", "NswSnapshotLayout", "Generations",
    "Dedup", "TextOps")

  /** Every per-layer metric with its unit, in the order BENCHMARK.json
    * lists them. A workload reports 0 for a layer it does not reach. */
  val names: Seq[(String, String)] =
    modules.flatMap(m => Seq(s"$m.jobs_per_op" -> "count", s"$m.job_ms_per_op" -> "ms")) ++
    Seq("other.jobs_per_op" -> "count", "other.job_ms_per_op" -> "ms",
      "IvfIndex.input_rows_per_op" -> "count", "NswIndex.input_rows_per_op" -> "count",
      "Dedup.shuffle_bytes_per_op" -> "B", "TextOps.shuffle_bytes_per_op" -> "B",
      "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
      "spark.tasks_per_op" -> "count", "spark.task_cpu_ms_per_op" -> "ms",
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.gc_ms" -> "ms") ++
    QueryServe.families.map(f => s"serve_${f}_p50_ms" -> "ms") ++
    QueryServe.families.map(f => s"$f.driver_ms_p50" -> "ms") ++
    Seq("ivf", "nsw", "pq").map(f => s"$f.rows_examined_per_hit" -> "count") ++
    Seq("SnapshotLayout.apply.wall_ms_p50" -> "ms", "SnapshotLayout.apply.jobs_per_op" -> "count",
      "NswSnapshotLayout.apply.wall_ms_p50" -> "ms",
      "NswSnapshotLayout.apply.jobs_per_op" -> "count",
      "SnapshotLayout.compact.wall_ms" -> "ms", "NswSnapshotLayout.compact.wall_ms" -> "ms",
      "Generations.cutover.wall_ms" -> "ms",
      "layout.output_bytes_per_row" -> "B", "layout.files_end" -> "count",
      "layout.bytes_per_live_row" -> "B",
      "asof_ivf.jobs_per_op" -> "count", "asof_ivf.input_rows_per_op" -> "count",
      "RecallEval.job_ms" -> "ms", "clean.jobs_per_op" -> "count", "clean_docs_per_s" -> "1/s",
      "ingest_rows_per_s" -> "1/s", "apply_p50_ms" -> "ms",
      "lifecycle_s" -> "s", "serve_asof_p50_ms" -> "ms") ++
    Seq("op_p50_ms", "op_tail_ms", "work_per_s").map(m => s"tracing_overhead_pct.$m" -> "%")

  private val unitOf = names.toMap

  /** Direction of improvement: rates and the work-rate overhead (a percent
    * change of work_per_s) are better higher, everything else lower. */
  def better(name: String): String =
    if (unitOf.get(name).contains("1/s") || name == "tracing_overhead_pct.work_per_s") "higher"
    else "lower"

  /** Run `n` operations under a fresh tracer, each inside its own op span. */
  def traced(ctx: Ctx, n: Int)(op: Int => Op): Traced = {
    val tracer = new Tracer(ctx.spark)
    ctx.tracer = Some(tracer)
    val ops = try (0 until n).map { i =>
      tracer.beginOp()
      tracer.span("op", "op")(op(i))
    } finally ctx.tracer = None
    val jobs = tracer.attributed()
    tracer.close()
    tracer.write(ctx.traceFile, jobs)
    new Traced(tracer, ops, jobs)
  }

  /** Fill in every declared metric a workload left out with 0 and attach units. */
  def complete(m: Map[String, Double]): Map[String, (Double, String)] = {
    val unknown = m.keySet -- unitOf.keySet
    require(unknown.isEmpty, s"undeclared per-layer metrics ${unknown.mkString(", ")}")
    names.map { case (n, u) => n -> (m.getOrElse(n, 0.0), u) }.toMap
  }

  final class Traced(val tracer: Tracer, val ops: Seq[Op],
      val jobs: Seq[(Tracer.JobRec, Tracer.Span)]) {
    private val nOps = ops.size.toDouble
    private def layerJobs(m: String) = jobs.filter { case (j, s) => tracer.layerOf(j, s) == m }
    /** Jobs run under a span with this name (the benchmark's step spans). */
    def stepJobs(step: String): Seq[Tracer.JobRec] = jobs.collect { case (j, s) if s.name == step => j }
    def jobsOf(module: String): Long = layerJobs(module).size.toLong
    def failed: Long = ops.count(!_.ok).toLong
    def spansNamed(n: String): Seq[Tracer.Span] = tracer.allSpans.filter(_.name == n)

    /** Per-module and engine-wide counts. */
    def common(): Map[String, Double] = {
      val all = jobs.map(_._1)
      val perModule = modules.flatMap { m =>
        val js = layerJobs(m).map(_._1)
        Seq(s"$m.jobs_per_op" -> js.size / nOps, s"$m.job_ms_per_op" -> js.map(_.ms).sum / nOps)
      }.toMap
      val other = jobs.filterNot { case (j, s) => modules.contains(tracer.layerOf(j, s)) }.map(_._1)
      def sum(js: Seq[Tracer.JobRec])(f: Tracer.JobRec => Long) = js.map(f).sum.toDouble
      perModule ++ Map(
        "other.jobs_per_op" -> other.size / nOps,
        "other.job_ms_per_op" -> other.map(_.ms).sum / nOps,
        "IvfIndex.input_rows_per_op" -> sum(layerJobs("IvfIndex").map(_._1))(_.inputRows) / nOps,
        "NswIndex.input_rows_per_op" -> sum(layerJobs("NswIndex").map(_._1))(_.inputRows) / nOps,
        "Dedup.shuffle_bytes_per_op" -> sum(layerJobs("Dedup").map(_._1))(_.shuffleBytes) / nOps,
        "TextOps.shuffle_bytes_per_op" -> sum(layerJobs("TextOps").map(_._1))(_.shuffleBytes) / nOps,
        "spark.jobs_per_op" -> all.size / nOps,
        "spark.stages_per_op" -> all.map(_.stages.size).sum / nOps,
        "spark.tasks_per_op" -> sum(all)(_.tasks) / nOps,
        "spark.task_cpu_ms_per_op" -> sum(all)(_.cpuNs) / 1e6 / nOps,
        "spark.jobs" -> all.size.toDouble,
        "spark.tasks" -> sum(all)(_.tasks),
        "spark.gc_ms" -> sum(all)(_.gcMs))
    }

    /** Tracing overhead of the op metrics: each traced op against the
      * untraced op at the same position, which repeats it on the same
      * input, as the percent change of the pairs' median, maximum and
      * mean latency (the mean as a change of work_per_s). */
    def overhead(untraced: Seq[Op]): Map[String, Double] = {
      val pairs = ops.zip(untraced)
      require(pairs.forall { case (a, b) => a.kind == b.kind }, "overhead pairs differ in kind")
      if (pairs.isEmpty) Map.empty
      else {
        val (t, u) = (pairs.map(_._1.ms), pairs.map(_._2.ms))
        Map("tracing_overhead_pct.op_p50_ms" -> (Stats.median(t) / Stats.median(u) - 1) * 100,
          "tracing_overhead_pct.op_tail_ms" -> (Stats.tail(t)._1 / Stats.tail(u)._1 - 1) * 100,
          "tracing_overhead_pct.work_per_s" -> (u.sum / t.sum - 1) * 100)
      }
    }

    /** Median driver time of the spans named after each family. */
    def familyDriverMs(fams: Seq[String]): Map[String, Double] = fams.flatMap { f =>
      val ss = spansNamed(f)
      if (ss.isEmpty) None
      else Some(s"$f.driver_ms_p50" -> Stats.median(ss.map(s => tracer.driverMs(s, stepJobs(f)))))
    }.toMap

    /** Input rows read by a family's jobs per hit returned. */
    def rowsPerHit(fams: Seq[String], k: Int): Map[String, Double] = fams.flatMap { f =>
      val n = spansNamed(f).size
      if (n == 0) None
      else Some(s"$f.rows_examined_per_hit" -> stepJobs(f).map(_.inputRows).sum.toDouble / (n * k))
    }.toMap
  }
}

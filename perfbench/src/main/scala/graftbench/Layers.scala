package graftbench

/** Per-layer metrics computed from a traced run's spans. Layer names
  * follow graft's modules: `service` (graft.service), `catalyst`
  * (Spark SQL phases including graft's rules), `engine` (Spark
  * scheduling and execution), `sources` (graft.sources) and
  * `operators` (graft.operators and graft.functions).
  */
object Layers {

  /** The operation spans of a run with their descendants. */
  final case class OpTrace(op: Span, kids: Seq[Span]) {
    def wall: Double = op.dur
    def attr(k: String): Double = op.attrs.getOrElse(k, 0.0)
    def named(n: String): Seq[Span] = kids.filter(_.name == n)
    def jobs: Seq[Span] = named("job")
    def phases: Seq[Span] = kids.filter(_.layer == "catalyst")
    def phase(n: String): Double = named(n).map(_.dur).sum
    def jobAttr(k: String): Double = jobs.map(_.attrs.getOrElse(k, 0.0)).sum
    /** Wall time not spent in any query execution, Catalyst phase or job. */
    def outsideQueries: Double = Intervals.selfTime(op, phases ++ named("execution") ++ jobs)
    /** Wall time on the driver outside Catalyst phases and jobs. */
    def driverGap: Double = Intervals.selfTime(op, phases ++ jobs)
    def jobWall: Double = wall - Intervals.selfTime(op, jobs)
  }

  def group(spans: Seq[Span]): Seq[OpTrace] = {
    val byOp = spans.filter(_.layer != "op").groupBy(_.op)
    spans.filter(_.layer == "op").sortBy(_.start)
      .map(o => OpTrace(o, byOp.getOrElse(o.id, Nil)))
  }

  /** Names of the metrics [[common]] reports. */
  lazy val CommonNames: Seq[String] = common(Nil, served = true).keys.toSeq.sorted

  private def meanOf(ops: Seq[OpTrace])(f: OpTrace => Double): Double =
    if (ops.isEmpty) 0.0 else ops.map(f).sum / ops.size

  /** Metrics every workload reports. `served` marks HTTP workloads:
    * the service layer exists only there.
    */
  def common(ops: Seq[OpTrace], served: Boolean): Map[String, Double] = {
    val m = meanOf(ops) _
    val cacheOpted = ops.filter(_.attr("cache_opt") > 0)
    val hits = cacheOpted.count(_.attr("cache_hit") > 0)
    val returned = ops.map(_.attr("rows")).sum
    val readRows = ops.filter(_.attr("rows") > 0).map(_.jobAttr("records_read")).sum
    Map(
      "service.self_ms" -> (if (served) Stats.median(ops.map(_.outsideQueries)) else 0.0),
      "service.cache_hits" -> hits.toDouble,
      "service.cache_misses" -> (cacheOpted.size - hits).toDouble,
      "service.cache_hit_ratio" ->
        (if (cacheOpted.isEmpty) 0.0 else hits.toDouble / cacheOpted.size),
      "service.rejected" -> ops.count(o => served && o.attr("status") != 200).toDouble,
      "service.response_kb" -> (if (served) m(_.attr("bytes") / 1024.0) else 0.0),
      "catalyst.analysis_ms" -> m(_.phase("analysis")),
      "catalyst.optimization_ms" -> m(_.phase("optimization")),
      "catalyst.planning_ms" -> m(_.phase("planning")),
      "catalyst.executions_per_op" -> m(_.named("execution").size.toDouble),
      "engine.jobs_per_op" -> m(_.jobs.size.toDouble),
      "engine.stages_per_op" -> m(_.jobAttr("stages")),
      "engine.tasks_per_op" -> m(_.jobAttr("tasks")),
      "engine.job_ms" -> m(_.jobWall),
      "engine.driver_gap_ms" -> m(_.driverGap),
      "engine.executor_run_ms" -> m(_.jobAttr("run_ms")),
      "engine.executor_cpu_ms" -> m(_.jobAttr("cpu_ms")),
      "engine.gc_ms" -> m(_.jobAttr("gc_ms")),
      "engine.shuffle_write_mb" -> m(_.jobAttr("shuffle_write_b") / 1e6),
      "engine.shuffle_read_mb" -> m(_.jobAttr("shuffle_read_b") / 1e6),
      "engine.spill_mb" -> m(_.jobAttr("spill_b") / 1e6),
      "engine.rows_read_per_row_returned" -> (if (returned > 0) readRows / returned else 0.0),
      "sources.construct_ms" -> m(_.named("construct").map(_.dur).sum),
      "sources.schema_jobs" -> m(_.jobs.count(_.layer == "sources").toDouble))
  }
}

/** The full per-layer metric list every traced run reports; a metric
  * whose layer a workload does not exercise reads 0.
  */
object PerLayer {
  val Names: Seq[String] = Layers.CommonNames ++
    Seq("trace.overhead_pct") ++
    PipelineRun.Queries.flatMap(q => Seq(s"operators.$q.wall_s", s"operators.$q.jobs"))

  def complete(m: Map[String, Double]): Map[String, Double] = {
    require(m.keySet.subsetOf(Names.toSet), s"unlisted metrics ${m.keySet -- Names}")
    Names.map(n => n -> m.getOrElse(n, 0.0)).map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }.toMap
  }
}

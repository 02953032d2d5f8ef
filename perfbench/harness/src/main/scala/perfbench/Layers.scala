package perfbench

/** Per-layer figures from one traced run. Each figure is computed per
  * traced pass and reported as the median over those passes; time is in
  * ms unless the name says otherwise, and a share is a fraction of the
  * operations' wall.
  */
object Layers {
  def apply(t: Tracer, ops: Seq[Op], passIds: Seq[Int],
            cores: Int, stub: Map[String, Map[String, Double]],
            buildMs: Seq[Double], registerMs: Seq[Double],
            stmtsChanged: Int): Map[String, Double] = {
    def passOf(op: String): Int = op.takeWhile(_ != '/').toIntOption.getOrElse(-1)
    val spans = t.spans.toSeq
    val jobSpans = t.jobSpans()
    val byId = spans.map(s => s.id -> s).toMap
    val opSpans = spans.filter(_.name == "op")
    val phases = t.phases.toSeq.map { case (op, phase, start, ms) =>
      (if (op.nonEmpty) op else t.opAt(start), phase, ms)
    }
    val groups = ops.map(o => o.name -> o.group).toMap
    val inputBytes = ops.map(o => o.name -> o.inputBytes).toMap

    def perPass(f: Int => Double): Double = Harness.median(passIds.map(f))
    def named(p: Int, name: String): Seq[Span] =
      spans.filter(s => s.name == name && passOf(s.op) == p)
    def spanMs(p: Int, names: String*): Double = names.map(n => named(p, n).map(_.ms).sum).sum
    def wall(p: Int): Double = opSpans.filter(s => passOf(s.op) == p).map(_.ms).sum
    def jobsUnder(p: Int, names: Set[String]): Double = jobSpans.count(j =>
      passOf(j.op) == p && byId.get(j.parent).exists(s => names(s.name))).toDouble
    def tasks(p: Int): Seq[TaskRec] = t.tasks.toSeq.filter(x => passOf(x.op) == p)
    def phaseMs(p: Int, phase: String): Double =
      phases.filter(x => passOf(x._1) == p && x._2 == phase).map(_._3).sum
    def catalystMs(p: Int): Double =
      Seq("analysis", "optimization", "planning").map(phaseMs(p, _)).sum
    def stubSum(p: Int, k: String): Double =
      stub.filter(x => passOf(x._1) == p).values.map(_.getOrElse(k, 0.0)).sum
    def stubMax(p: Int, k: String): Double =
      (0.0 +: stub.filter(x => passOf(x._1) == p).values.map(_.getOrElse(k, 0.0)).toSeq).max
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

    val rewrites = passIds.flatMap(named(_, "parser.rewrite")).map(_.ms).sorted
    def pct(q: Double): Double =
      if (rewrites.isEmpty) 0.0 else rewrites(math.ceil(q * rewrites.size).toInt.max(1) - 1)

    def driverGap(p: Int): Double = opSpans.filter(s => passOf(s.op) == p).map { s =>
      val busy = t.tasks.toSeq.filter(_.op == s.op).map(x =>
        (x.launch.toDouble max s.start, x.finish.toDouble min s.end))
      s.ms - Tracer.covered(busy, s.ms)
    }.sum

    def groupS(p: Int, g: String): Double =
      opSpans.filter(s => passOf(s.op) == p && groups.get(s.op.dropWhile(_ != '/').drop(1)).contains(g))
        .map(_.ms).sum / 1000

    Map(
      "session.build_ms" -> Harness.median(buildMs.tail),
      "functions.register_ms" -> Harness.median(registerMs.tail),
      "session.cold_setup_ms" -> (buildMs.head + registerMs.head),
      "config.parse_ms" -> perPass(spanMs(_, "config.parse")),
      "sources.load_ms" -> perPass(spanMs(_, "sources.load")),
      "sources.load_jobs" -> perPass(jobsUnder(_, Set("sources.load"))),
      "sources.scan_bytes" -> perPass(tasks(_).map(_.inputBytes).sum.toDouble),
      "sources.sink_ms" -> perPass(spanMs(_, "sources.sink")),
      "sources.sink_bytes" -> perPass(tasks(_).map(_.outputBytes).sum.toDouble),
      "sources.write_amp" -> perPass(p => ratio(tasks(p).map(_.outputBytes).sum.toDouble,
        named(p, "sources.sink").map(s => inputBytes.getOrElse(s.op.dropWhile(_ != '/').drop(1), 0L)).sum.toDouble)),
      "operators.compile_ms" -> perPass(spanMs(_, "operators.compile")),
      "operators.stage_build_ms" -> perPass(spanMs(_, "operators.stage_build", "queries.build")),
      "operators.build_jobs" -> perPass(jobsUnder(_, Set("operators.stage_build", "queries.build"))),
      "parser.rewrite_p50_ms" -> pct(0.5),
      "parser.rewrite_p90_ms" -> pct(0.9),
      "parser.rewrite_share" -> perPass(p => ratio(spanMs(p, "parser.rewrite"), wall(p))),
      "parser.stmts_changed" -> stmtsChanged.toDouble,
      "catalyst.analysis_ms" -> perPass(phaseMs(_, "analysis")),
      "catalyst.optimization_ms" -> perPass(phaseMs(_, "optimization")),
      "catalyst.planning_ms" -> perPass(phaseMs(_, "planning")),
      "catalyst.plan_share" -> perPass(p => ratio(catalystMs(p), wall(p))),
      "exec.jobs" -> perPass(p => jobSpans.count(j => passOf(j.op) == p).toDouble),
      "exec.stages" -> perPass(p => t.jobs.values.filter(j => passOf(j.op) == p).map(_.stages).sum.toDouble),
      "exec.tasks" -> perPass(tasks(_).size.toDouble),
      "exec.driver_gap_ms" -> perPass(driverGap),
      "exec.task_cpu_ms" -> perPass(tasks(_).map(_.cpuNs).sum / 1e6),
      "exec.task_run_ms" -> perPass(tasks(_).map(_.runMs).sum.toDouble),
      "exec.gc_ms" -> perPass(tasks(_).map(_.gcMs).sum.toDouble),
      "exec.core_busy_share" -> perPass(p => ratio(tasks(p).map(_.runMs).sum.toDouble, wall(p) * cores)),
      "exec.shuffle_write_bytes" -> perPass(tasks(_).map(_.shuffleWrite).sum.toDouble),
      "exec.shuffle_read_bytes" -> perPass(tasks(_).map(_.shuffleRead).sum.toDouble),
      "exec.spill_bytes" -> perPass(tasks(_).map(_.spill).sum.toDouble),
      "exec.result_bytes" -> perPass(tasks(_).map(_.resultBytes).sum.toDouble),
      "exec.task_failures" -> perPass(tasks(_).count(_.failed).toDouble),
      "queries.core_s" -> perPass(groupS(_, "core")),
      "queries.text_s" -> perPass(groupS(_, "text")),
      "queries.vector_s" -> perPass(groupS(_, "vector")),
      "queries.extra_s" -> perPass(groupS(_, "extra")),
      "rest.requests" -> perPass(stubSum(_, "requests")),
      "rest.retries" -> perPass(stubSum(_, "s503")),
      "rest.useful_ratio" -> perPass(p => ratio(stubSum(p, "s2xx"), stubSum(p, "requests"))),
      "rest.max_inflight" -> perPass(stubMax(_, "max_inflight")),
      "rest.wait_share" -> perPass(p => ratio(stubSum(p, "service_ms"), wall(p) * stubMax(p, "max_inflight"))))
  }
}

package perfbench

/**
 * Per-layer metrics of a traced run, from the spans the workload and the
 * probes recorded. Per-call figures are medians over the calls of the run; a
 * layer the workload never calls reports 0.
 */
object Layers {

  /** Stage-set metrics of the measured calls recorded under span `name`
    * (warm-up calls left out), reported as `<name>.<key>`. */
  private def stageSet(ctx: Ctx, name: String, keys: Seq[String]): Unit = {
    val tr = ctx.tracer
    val ss = tr.named(name)
    val costs = ss.map(tr.cost)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Ctx.median(xs)
    val all = Map[String, () => Double](
      "wall_ms" -> (() => med(ss.map(_.wallMs))),
      "driver_ms" -> (() => med(ss.map(s => tr.driverMs(s)))),
      "jobs" -> (() => med(costs.map(_.jobs.toDouble))),
      "tasks" -> (() => med(costs.map(_.tasks.toDouble))),
      "cpu_ms" -> (() => med(costs.map(_.cpuMs))),
      "gc_ms" -> (() => med(costs.map(_.gcMs.toDouble))),
      "shuffle_write_bytes" -> (() => med(costs.map(_.shuffleWriteBytes.toDouble))),
      "spill_bytes" -> (() => med(costs.map(_.spillBytes.toDouble))),
      "output_bytes" -> (() => med(costs.map(_.outputBytes.toDouble))),
      "busy_ratio" -> (() => {
        val wall = ss.map(_.wallMs).sum
        if (wall <= 0) 0.0 else costs.map(_.taskMs).sum / (ctx.cores * wall)
      }))
    keys.foreach(k => ctx.layers(s"$name.$k") = all(k)())
  }

  val S = Seq("wall_ms", "driver_ms", "jobs", "tasks", "cpu_ms", "gc_ms", "shuffle_write_bytes",
    "spill_bytes", "output_bytes", "busy_ratio")

  def fill(ctx: Ctx): Unit = {
    val L = ctx.layers
    def med(key: String): Double = ctx.samples.get(key).filter(_.nonEmpty).map(xs => Ctx.median(xs.toSeq)).getOrElse(0.0)
    def spanMed(name: String): Double = {
      val ss = ctx.tracer.named(name)
      if (ss.isEmpty) 0.0 else Ctx.median(ss.map(_.wallMs))
    }

    L("plans.parse_ms") = spanMed("plans.parse")
    L("plans.optimize_ms") = spanMed("plans.optimize")
    L.getOrElseUpdate("plans.steps_after_optimize", 0.0)

    stageSet(ctx, "maintenance.cluster", S)
    stageSet(ctx, "maintenance.merge", S)
    L("maintenance.merge.probe_ms") = med("merge.probe_ms")
    L("maintenance.merge.files_rewritten") = med("merge.files_rewritten")
    L("maintenance.merge.rewrite_bytes_per_batch_byte") = med("merge.rewrite_bytes_per_batch_byte")
    stageSet(ctx, "maintenance.materialize_deletes", S)

    stageSet(ctx, "table.lookup", Seq("wall_ms", "driver_ms", "jobs", "tasks", "cpu_ms"))
    stageSet(ctx, "table.scan", Seq("wall_ms", "driver_ms", "tasks", "cpu_ms"))
    L("table.delete_entries") = ctx.values.getOrElse("pending_delete_entries", 0.0)

    L("streaming.trigger.driver_ms") = med("trigger.driver_ms")
    L("streaming.trigger.jobs") = med("trigger.jobs")
    L("streaming.trigger.tasks") = med("trigger.tasks")
    L("streaming.trigger.cpu_ms") = med("trigger.cpu_ms")
    Seq("add_batch", "query_planning", "latest_offset", "get_batch", "wal_commit").foreach { k =>
      L(s"streaming.${k}_ms_p50") = med(s"streaming.${k}_ms")
    }
    L("streaming.commits") = ctx.values.getOrElse("stream_commits", 0.0)

    // a family's figure is the median over suite passes of its entries' sum
    Workloads.suite.map(_._1).foreach { fam =>
      val layer = if (Set("ddp", "ann", "curate", "txt", "mm")(fam)) "text" else "ops"
      L(s"$layer.${fam}_s") = med(s"family.$fam") / 1000
    }
    // per measured suite pass
    val passes = math.max(1.0, ctx.values.getOrElse("suite_passes", 0.0))
    val suiteSpans = ctx.tracer.measured.filter(_.name.startsWith("ops."))
    L("ops.suite_cpu_ms") = suiteSpans.map(ctx.tracer.cost(_).cpuMs).sum / passes
    L("ops.suite_driver_ms") = suiteSpans.map(s => ctx.tracer.driverMs(s)).sum / passes

    L("trace.spans") = ctx.tracer.spans.size
  }
}

package graftbench

/** Per-layer metrics of a traced run, averaged per measured pass. Every
  * name is always reported; a layer a workload does not touch reads 0. */
object Layers {
  private def all(s: Span): Seq[Span] = s +: s.children.toSeq.flatMap(all)

  private def roots(ctx: Ctx, o: Outcome): Seq[Span] =
    ctx.trace.roots.toSeq ++ o.streams.flatMap(s => ctx.trace.triggerSpans(s.query.id, s.name, s.measured))

  def compute(ctx: Ctx, o: Outcome): Unit = {
    val t = ctx.trace
    val measured = roots(ctx, o).filter(_.measured)
    val spans = measured.flatMap(all)
    val n = math.max(1, o.passes).toDouble
    val cores = ctx.opts.cores.toDouble
    def named(name: String) = spans.filter(_.name == name)
    def wall(names: String*) = names.flatMap(named).map(_.wallMs).sum / n
    def attr(name: String, k: String) = named(name).flatMap(_.attrs.get(k)).sum / n
    def self(names: String*) = names.flatMap(named).map(_.selfMs).sum / n
    val triggers = spans.filter(s => s.name.startsWith("trigger.") && s.parent.isEmpty)
    def phase(ph: String) = spans.filter(s => s.name.startsWith("trigger.") &&
      s.name.endsWith("." + ph)).map(_.wallMs).sum / n
    def put(name: String, v: Double, unit: String) =
      if (!ctx.layers.contains(name)) ctx.layer(name, v, unit)
    def inc(ss: Seq[Span]) = ss.map(t.inclusive)
    def sched(ss: Seq[Span]) =
      ss.map(s => math.max(0.0, s.wallMs - t.inclusive(s).taskRunMs / cores)).sum

    put("sources.latest_offset_ms", phase("latestOffset"), "ms")
    put("sources.get_batch_ms", phase("getBatch"), "ms")
    put("sources.rows", triggers.flatMap(_.attrs.get("rows")).sum / n, "rows")
    put("streaming.query_planning_ms", phase("queryPlanning"), "ms")
    put("streaming.wal_commit_ms", phase("walCommit"), "ms")
    put("streaming.commit_offsets_ms", phase("commitOffsets"), "ms")
    put("streaming.trigger_lateness_ms", 0.0, "ms")
    put("streaming.add_batch_ms", phase("addBatch"), "ms")
    put("streaming.bytes_written",
      inc(triggers.filter(_.name == "trigger.ingest")).map(_.bytesWritten).sum / n, "bytes")
    put("streaming.state_rows",
      triggers.flatMap(_.attrs.get("state_rows")).maxOption.getOrElse(0.0), "rows")
    put("streaming.state_memory_bytes",
      triggers.flatMap(_.attrs.get("state_memory_bytes")).maxOption.getOrElse(0.0), "bytes")
    put("streaming.state_commit_ms", triggers.flatMap(_.attrs.get("state_commit_ms")).sum / n, "ms")
    put("streaming.factstore_files", 0.0, "count")
    put("rollup.ms", wall("rollup"), "ms")
    put("rollup.frame_ms", wall("rollup.frame"), "ms")
    put("rollup.rows_in", attr("rollup", "rows_in"), "rows")
    put("rollup.rows_out", attr("rollup", "rows_out"), "rows")
    put("finalize.ms", wall("finalize"), "ms")
    put("upsert.ms", wall("upsert"), "ms")
    put("upsert.rows", attr("upsert", "rows"), "rows")
    put("reports.weak_ms", wall("reports.weak"), "ms")
    put("reports.vendor_ms", wall("reports.vendor"), "ms")
    put("sink.render_ms", wall("sink"), "ms")
    put("sink.messages", attr("sink", "messages"), "count")
    put("sink.bytes", attr("sink", "bytes"), "bytes")

    val c = inc(measured)
    def sum(f: Counters => Double) = c.map(f).sum / n
    put("engine.planning_ms", sum(_.planningMs.toDouble) + phase("queryPlanning"), "ms")
    put("engine.jobs", sum(_.jobs.toDouble), "count")
    put("engine.stages", sum(_.stages.toDouble), "count")
    put("engine.tasks", sum(_.tasks.toDouble), "count")
    put("engine.task_run_ms", sum(_.taskRunMs.toDouble), "ms")
    put("engine.task_cpu_ms", sum(_.taskCpuNs / 1e6), "ms")
    put("engine.gc_ms", sum(_.gcMs.toDouble), "ms")
    put("engine.shuffle_read_bytes", sum(_.shuffleRead.toDouble), "bytes")
    put("engine.shuffle_write_bytes", sum(_.shuffleWrite.toDouble), "bytes")
    put("engine.spill_bytes", sum(_.spill.toDouble), "bytes")
    put("engine.sched_ms", sched(measured) / n, "ms")
    put("engine.pin_bytes", sum(_.pinBytes.toDouble), "bytes")
    put("engine.warn_lines", ctx.log.warnLines.get.toDouble, "count")
    put("engine.codegen_fallbacks", ctx.log.codegenFallbacks.get.toDouble, "count")

    Workloads.MixQueries.foreach { q =>
      val ss = measured.filter(_.name == s"query:$q")
      val k = math.max(1, ss.size).toDouble
      val qc = inc(ss)
      put(s"query.$q.ms", Stats.median(ss.map(_.wallMs)), "ms")
      put(s"query.$q.jobs", qc.map(_.jobs).sum / k, "count")
      put(s"query.$q.task_cpu_ms", qc.map(_.taskCpuNs / 1e6).sum / k, "ms")
      put(s"query.$q.sched_ms", sched(ss) / k, "ms")
      put(s"query.$q.shuffle_bytes", qc.map(_.shuffleWrite).sum / k, "bytes")
    }

    put("self.e2_ms", self("e2"), "ms")
    put("self.e3_ms", self("e3"), "ms")
    put("self.rollup_ms", self("rollup"), "ms")
    put("self.trigger_ms", self(triggers.map(_.name).distinct: _*), "ms")
    put("self.query_ms", self(Workloads.MixQueries.map(q => s"query:$q"): _*), "ms")

    // the traced run's own end-to-end values: minus the untraced run's,
    // they are the tracing overhead
    ctx.e2e.foreach { case (k, v) => put(s"traced.$k", v, unitOf(k)) }
  }

  def unitOf(e2e: String): String =
    if (e2e.endsWith("_s")) "s" else if (e2e.endsWith("_mb")) "MB" else "ms"

  /** The measured and set-up span trees with self time and own engine
    * counters, for the trace file. */
  def spanTree(ctx: Ctx, o: Outcome): String = {
    def node(s: Span): String = {
      val c = Option(ctx.trace.counters.get(s.key))
      Json.obj(Seq("name" -> s.name, "start_ms" -> s.startMs, "wall_ms" -> s.wallMs,
        "self_ms" -> s.selfMs, "measured" -> s.measured, "attrs" -> s.attrs) ++
        c.toSeq.map(x => "engine" -> Map("jobs" -> x.jobs, "stages" -> x.stages,
          "tasks" -> x.tasks, "task_run_ms" -> x.taskRunMs, "task_cpu_ms" -> x.taskCpuNs / 1e6,
          "planning_ms" -> x.planningMs, "shuffle_write_bytes" -> x.shuffleWrite,
          "pin_bytes" -> x.pinBytes)) ++
        Seq("children" -> Json.Raw(s.children.toSeq.map(node).mkString("[", ",", "]"))))
    }
    roots(ctx, o).sortBy(_.startMs).map(node).mkString("[\n", ",\n", "\n]")
  }
}

package graftbench

/**
 * Turns a traced run's spans into the per-layer report. It prints one
 * line per span name (the layer table) and one line of named metrics,
 * and returns the per-layer metrics for the result line: per main op,
 * so they compare across workloads and runs of different lengths.
 */
object Layers {
  def report(ctx: Ctx, tr: Tracer): Seq[(String, Double, String)] = {
    val rows = Rollup.rows(tr.allSpans, tr.workBySpan())
    def p50(rs: Seq[Rollup.Row])(f: Rollup.Row => Double) = Stats.median(rs.map(f))
    def mean(rs: Seq[Rollup.Row])(f: Rollup.Row => Double) = Stats.mean(rs.map(f))

    val groups = rows.groupBy(_.span.name).toSeq.sortBy(_._1)
    groups.foreach { case (name, rs) =>
      println(Json.obj(Seq(
        "span" -> Json.str(name), "n" -> Json.num(rs.size),
        "wall_ms_p50" -> Json.num(p50(rs)(_.span.wallMs)),
        "self_ms_p50" -> Json.num(p50(rs)(_.selfMs)),
        "outside_jobs_ms_p50" -> Json.num(p50(rs)(_.outsideJobsMs)),
        "catalyst_ms" -> Json.num(mean(rs)(_.work.catalystMs)),
        "jobs" -> Json.num(mean(rs)(_.work.jobs.toDouble)),
        "stages" -> Json.num(mean(rs)(_.work.stages.toDouble)),
        "tasks" -> Json.num(mean(rs)(_.work.tasks.toDouble)),
        "exec_run_ms" -> Json.num(mean(rs)(_.work.execRunMs.toDouble)),
        "exec_cpu_ms" -> Json.num(mean(rs)(_.work.execCpuNs / 1e6)),
        "gc_ms" -> Json.num(mean(rs)(_.work.gcMs.toDouble)),
        "shuffle_write_bytes" -> Json.num(mean(rs)(_.work.shuffleWriteBytes.toDouble)),
        "spill_bytes" -> Json.num(mean(rs)(_.work.spillBytes.toDouble)))))
    }

    val mainKinds = ctx.ops.filter(_.main).map(_.kind).toSet
    val main = rows.filter(r => r.span.parent.isEmpty && mainKinds(r.span.name))
    groups.foreach { case (name, rs) =>
      if (name.startsWith("serve.")) {
        ctx.named(s"$name.ms_p50") = p50(rs)(_.span.wallMs)
        ctx.named(s"$name.jobs") = mean(rs)(_.work.jobs.toDouble)
      } else if (name.contains(':')) {
        val Array(stem, param) = name.split(":", 2)
        ctx.named(s"${stem}_ms.$param") = p50(rs)(_.span.wallMs)
      } else if (!name.startsWith("check.") && !name.startsWith("replay.")) {
        ctx.named(s"${name}_ms") = p50(rs)(_.span.wallMs)
      }
    }
    val imports = main.filter(_.span.name.startsWith("importer:"))
    if (imports.nonEmpty) {
      ctx.named("importer.jobs_per_import") = mean(imports)(_.work.jobs.toDouble)
      ctx.named("importer.outside_jobs_ms") = p50(imports)(_.outsideJobsMs)
    }
    val serves = main.filter(_.span.name.startsWith("serve."))
    if (serves.nonEmpty) ctx.named("serve.outside_jobs_ms") = p50(serves)(_.outsideJobsMs)
    ctx.named("plans.catalyst_ms") = mean(main)(_.work.catalystMs)
    println(Json.obj(Seq("named" -> Json.obj(ctx.named.toSeq.map { case (k, v) =>
      k -> Json.num(v) }))))

    Seq(
      ("op.traced_ms_mean", mean(main)(_.span.wallMs), "ms"),
      ("op.outside_jobs_ms_mean", mean(main)(_.outsideJobsMs), "ms"),
      ("plans.catalyst_ms", mean(main)(_.work.catalystMs), "ms"),
      ("spark.jobs", mean(main)(_.work.jobs.toDouble), "count"),
      ("spark.stages", mean(main)(_.work.stages.toDouble), "count"),
      ("spark.tasks", mean(main)(_.work.tasks.toDouble), "count"),
      ("spark.exec_run_ms", mean(main)(_.work.execRunMs.toDouble), "ms"),
      ("spark.exec_cpu_ms", mean(main)(_.work.execCpuNs / 1e6), "ms"),
      ("spark.gc_ms", mean(main)(_.work.gcMs.toDouble), "ms"),
      ("spark.shuffle_write_bytes", mean(main)(_.work.shuffleWriteBytes.toDouble), "bytes"))
  }
}

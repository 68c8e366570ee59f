package perfbench

/** The per-layer metrics of the traced run: their names, units, and
  * the figures derived from the trace. Layers a workload does not
  * touch read 0 there. */
object Layers {

  val names: Seq[String] = Seq(
    "engine.actions", "engine.jobs", "engine.tasks", "engine.plan_s", "engine.between_actions_s",
    "engine.exec_busy_s", "engine.util", "engine.shuffle_write_mb",
    "engine.spill_mb", "engine.failed_tasks",
    "sources.csv_mb_in", "sources.csv_rows_in", "sources.malformed_rows",
    "sources.busy_s",
    "pipeline.import_s", "pipeline.clean_s", "pipeline.commit_s",
    "pipeline.actions_per_table",
    "pipeline.mb_out", "pipeline.files_out",
    "ops.Relational.fk_rows_probed", "ops.Relational.fk_rejects",
    "ops.Relational.busy_s",
    "ops.Temporal.validate_s", "ops.Temporal.merge_s",
    "ops.Temporal.rows_inserted", "ops.Temporal.rows_updated",
    "ops.Temporal.shuffle_mb",
    "ops.Dedup.exact_s", "ops.Dedup.pairs_s", "ops.Dedup.apply_s",
    "ops.Dedup.index_rows", "ops.Dedup.pairs_out", "ops.Dedup.shuffle_mb",
    "trace.job_s", "trace.untraced_job_s", "trace.overhead_s")

  def unit(name: String): String = name match {
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_mb") || n.endsWith("_mb_in") || n.endsWith("mb_out") => "MB"
    case "engine.util" => "ratio"
    case "pipeline.actions_per_table" => "count/table"
    case _ => "count"
  }

  /** Engine figures of one traced op spanning `op`, and the pipeline's
    * actions per committed table, by call-site frame. */
  def engine(tr: Tracer, op: Span, cpus: Int): Map[String, Double] = {
    val t = tr.window(op)
    val actions = tr.within(op)
    val commits = actions.count(_.frame == "graft.pipeline.ImportPipeline.commitSnapshot")
    Map(
      "engine.actions" -> actions.size.toDouble,
      // op time with no action running: building and analysing plans
      "engine.between_actions_s" -> (op.seconds - actions.map(_.seconds).sum),
      "engine.jobs" -> t.jobs.toDouble,
      "engine.tasks" -> t.tasks.toDouble,
      "engine.failed_tasks" -> t.failedTasks.toDouble,
      "engine.plan_s" -> tr.planSeconds(op.startMs, op.endMs),
      "engine.exec_busy_s" -> t.busyMs / 1000.0,
      "engine.util" -> t.busyMs / 1000.0 / (op.seconds * cpus),
      "engine.shuffle_write_mb" -> t.shuffleWriteBytes / 1e6,
      "engine.spill_mb" -> t.spillBytes / 1e6,
      "pipeline.actions_per_table" -> (if (commits == 0) 0.0
        else actions.count(_.frame.startsWith("graft.pipeline.")).toDouble / commits))
  }

  /** Span figures of the step-by-step op. */
  def steps(tr: Tracer): Map[String, Double] = {
    def spans(names: String*) = tr.spans.filter(s => names.contains(s.name))
    def seconds(name: String) = spans(name).map(_.seconds).sum
    def shuffleMb(names: String*) = spans(names: _*).map(tr.window(_).shuffleWriteBytes).sum / 1e6
    Map(
      "sources.busy_s" -> seconds("sources.read"),
      "pipeline.import_s" -> seconds("pipeline.import"),
      "pipeline.clean_s" -> seconds("pipeline.clean"),
      "pipeline.commit_s" -> seconds("pipeline.commit"),
      "ops.Relational.busy_s" -> seconds("ops.Relational.fk"),
      "ops.Temporal.validate_s" -> seconds("ops.Temporal.validate"),
      "ops.Temporal.merge_s" -> seconds("ops.Temporal.merge"),
      "ops.Temporal.shuffle_mb" -> shuffleMb("ops.Temporal.validate", "ops.Temporal.merge"),
      "ops.Dedup.exact_s" -> seconds("ops.Dedup.exact"),
      "ops.Dedup.pairs_s" -> seconds("ops.Dedup.pairs"),
      "ops.Dedup.apply_s" -> seconds("ops.Dedup.apply"),
      "ops.Dedup.shuffle_mb" -> shuffleMb("ops.Dedup.exact", "ops.Dedup.pairs", "ops.Dedup.apply"))
  }
}

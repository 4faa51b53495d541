package xlbench

/** Per-layer metrics of the traced run. Span and Spark sums cover the
  * timed first pass (the pass `total_s` sums), except where a name says
  * otherwise. Every metric is emitted for every workload; a layer the
  * workload does not touch reads 0. */
object Layers {
  type Metric = (String, (Double, String))

  def metrics(ctx: Ctx, wl: Workload, recs: Seq[OpRecord], calStart: (Double, Double),
      calEnd: (Double, Double), pinnedMb: Double): Seq[Metric] = {
    val t = ctx.trace.get
    val self = ctx.spans.selfSeconds.filter(_._1.op.startsWith("p1/"))
    def span(name: String): Double = self.filter(_._1.name == name).map(_._2).sum
    def groups(p: String => Boolean) = t.total(k => k.startsWith("p1/") && p(k))
    val timed = groups(k => !k.endsWith("|digest"))
    val pass1 = recs.filter(r => r.pass == 1 && r.ok)
    def passOf(group: String) = group.drop(1).takeWhile(_.isDigit)
    val warmJobs = t.total(k => passOf(k).nonEmpty && passOf(k).toInt > 1 && !k.endsWith("|digest")).jobs
    val warmPasses = recs.map(_.pass).distinct.count(_ > 1)
    val bulk = span("etl.bulk_load")
    val bulkSpark = groups(_.endsWith("|etl.bulk_load")).jobWallMs / 1e3
    val extra = wl.layers(ctx)
    def x(k: String) = extra.getOrElse(k, 0.0)
    Seq[Metric](
      "xlsx.parse_cells_per_s" -> (x("xlsx.parse_cells_per_s"), "cells/s"),
      "xlsx.infer_s" -> (x("xlsx.infer_s"), "s"),
      "xlsx.read_sheet_s" -> (span("xlsx.read_sheet"), "s"),
      "etl.sheet_names_s" -> (span("etl.sheet_names"), "s"),
      "etl.bulk_load_s" -> (bulk, "s"),
      "etl.bulk_load.spark_s" -> (bulkSpark, "s"),
      "etl.bulk_load.db_s" -> ((bulk - bulkSpark) max 0.0, "s"),
      "etl.upsert_s" -> (span("etl.upsert"), "s"),
      "etl.db_bytes_per_row" -> (x("etl.db_bytes_per_row"), "B/row"),
      "etl.read_jdbc_s" -> (span("etl.read_jdbc"), "s"),
      "xlsx.write_s" -> (span("xlsx.write"), "s"),
      "etl.export_count_s" -> (span("etl.export_count"), "s"),
      "xlsx.bytes_per_cell" -> (x("xlsx.bytes_per_cell"), "B/cell"),
      "queries.build_s" -> (span("queries.build"), "s"),
      "queries.build_jobs" -> (groups(_.endsWith("|queries.build")).jobs.toDouble, "count"),
      "queries.action_s" -> (span("queries.action"), "s"),
      "queries.warm_jobs_per_cold_job" ->
        (if (timed.jobs > 0 && warmPasses > 0) warmJobs.toDouble / warmPasses / timed.jobs else 0.0, "ratio"),
      "catalyst.analyze_s" -> (timed.analyzeMs / 1e3, "s"),
      "catalyst.optimize_s" -> (timed.optimizeMs / 1e3, "s"),
      "catalyst.plan_s" -> (timed.planMs / 1e3, "s"),
      "harness.op_self_s" -> (span("op"), "s"),
      "spark.driver_s" -> ((pass1.map(_.seconds).sum - timed.jobWallMs / 1e3) max 0.0, "s"),
      "spark.jobs" -> (timed.jobs.toDouble, "count"),
      "spark.stages" -> (timed.stages.toDouble, "count"),
      "spark.tasks" -> (timed.tasks.toDouble, "count"),
      "spark.task_wait_s" -> (timed.taskWaitMs / 1e3, "s"),
      "spark.shuffle_write_bytes" -> (timed.shuffleWrite.toDouble, "B"),
      "spark.shuffle_read_bytes" -> (timed.shuffleRead.toDouble, "B"),
      "spark.spill_bytes" -> (timed.spill.toDouble, "B"),
      "spark.straggler_s" -> (timed.stragglerMs / 1e3, "s"),
      "spark.executor_run_s" -> (timed.runMs / 1e3, "s"),
      "spark.executor_cpu_s" -> (timed.cpuNs / 1e9, "s"),
      "spark.cpu_per_run" -> (if (timed.runMs > 0) timed.cpuNs / 1e6 / timed.runMs else 0.0, "ratio"),
      "spark.gc_s" -> (timed.gcMs / 1e3, "s"),
      "spark.pinned_mb" -> (pinnedMb, "MB"),
      "spark.unattributed_jobs" -> (t.total(_ == SparkTrace.Unattributed).jobs.toDouble, "count"),
      "host.calibration_s" -> (calStart._1, "s"),
      "host.calibration_par_s" -> (calStart._2, "s"),
      "host.calibration_end_s" -> (calEnd._1, "s"),
      "host.calibration_par_end_s" -> (calEnd._2, "s"),
      "trace.drain_s" -> (ctx.drainSeconds, "s"),
      "trace.spans" -> (ctx.spans.all.size.toDouble, "count")) ++
      QueryWorkload.Modules.map { case (m, _) =>
        s"module.$m.s" -> (pass1.filter(_.module == m).map(_.seconds).sum, "s")
      }
  }
}

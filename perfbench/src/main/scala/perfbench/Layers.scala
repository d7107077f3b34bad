package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer report of a traced run. Every metric is printed for every
  * workload; a layer the workload does not exercise reads 0. Span
  * figures are means per traced operation; Spark listener figures are
  * means per untraced operation, taken over the jobs that started in
  * its timed region. */
object Layers {
  /** Span names whose self time is reported as `<name>.busy_s`. */
  val busy = Seq("etl.clean", "etl.sample", "etl.split", "ml.featurize", "ml.train",
    "ml.predict", "ml.evaluate", "stream.trigger", "dedup.update", "dedup.probe")

  /** Job descriptions the program sets through `JobLabel`, by metric name. */
  val steps = Seq(
    "spark.step.update_locate_s" -> "updateBandIndex: locate touched dirs",
    "spark.step.update_rewrite_s" -> "updateBandIndex: rewrite touched dirs")

  def report(t: Tracer, modelStats: Map[String, Double], plain: Seq[(Long, Long)],
             plainMs: Seq[Double], tracedMs: Seq[Double]): Seq[(String, String, Double)] = {
    val spans = t.all
    val nTraced = math.max(1, spans.count(_.parent == -1))
    def named(n: String) = spans.filter(_.name == n)
    def perOp(xs: Iterable[Double]) = xs.sum / nTraced
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def attr(n: String, k: String) = named(n).flatMap(s => t.attrs.get(s.id).flatMap(_.get(k)))
    def fs(k: String) = perOp(Seq("dedup.update", "dedup.probe").flatMap(named)
      .flatMap(s => t.fsDelta.get(s.id).map(_(k).toDouble)))

    val trainSpans = named("ml.train")
    val trainTasks = trainSpans.flatMap(s => t.jobsIn(s.startNs, s.endNs)).map(_.tasks.get.toDouble).sum
    val predict = named("ml.predict")
    val predictRows = attr("ml.predict", "rows").sum
    val predictS = predict.map(_.durS).sum

    val progress = t.streams.progress.asScala.toSeq.map(_.progress)
    def trigger(k: String) = Stats.median(progress.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))) match {
      case v if v.isNaN => 0.0
      case v => v
    }
    val stateRows = Stats.median(progress.flatMap(_.stateOperators.headOption.map(_.numRowsTotal.toDouble)))

    val nPlain = math.max(1, plain.size)
    val jobs = plain.flatMap { case (a, b) => t.jobsIn(a, b) }
    def jobSum(f: JobRec => Double) = jobs.map(f).sum / nPlain
    val taskS = jobs.map(_.taskMs.get / 1000.0).sum
    val wallS = plainMs.sum / 1000

    val layer = busy.map(n => (s"$n.busy_s", "s", perOp(named(n).map(t.selfS)))) ++ Seq(
      ("etl.clean.rows", "count", mean(attr("etl.clean", "rows"))),
      ("etl.sample.kept_frac", "frac", mean(attr("etl.sample", "kept_frac"))),
      ("ml.train.tasks", "count", if (trainSpans.isEmpty) 0.0 else trainTasks / trainSpans.size),
      ("ml.train.iterations", "count", modelStats.getOrElse("ml.train.iterations", 0.0)),
      ("ml.model.nnz", "count", modelStats.getOrElse("ml.model.nnz", 0.0)),
      ("ml.predict.rows_per_s", "1/s", if (predictS > 0) predictRows / predictS else 0.0),
      ("stream.trigger.planning_ms", "ms", trigger("queryPlanning")),
      ("stream.trigger.add_batch_ms", "ms", trigger("addBatch")),
      ("stream.trigger.wal_commit_ms", "ms", trigger("walCommit")),
      ("stream.state.rows", "count", if (stateRows.isNaN) 0.0 else stateRows),
      ("dedup.update.touched_frac", "frac", mean(attr("dedup.update", "touched_frac"))),
      ("dedup.probe.pfx_frac", "frac", mean(attr("dedup.probe", "pfx_frac"))),
      ("dedup.files_written", "count", fs("files_written")),
      ("dedup.list_calls", "count", fs("list_calls")),
      ("dedup.renames", "count", fs("renames")),
      ("spark.jobs", "count", jobs.size.toDouble / nPlain),
      ("spark.tasks", "count", jobSum(_.tasks.get.toDouble)),
      ("spark.task_time_s", "s", taskS / nPlain),
      ("spark.gc_s", "s", jobSum(_.gcMs.get / 1000.0)),
      ("spark.shuffle_write_bytes", "bytes", jobSum(_.shuffleWrite.get.toDouble)),
      ("spark.spill_bytes", "bytes", jobSum(_.spill.get.toDouble)),
      ("spark.wall_over_task", "ratio", if (taskS > 0) wallS / taskS else 0.0))
    val stepMetrics = steps.map { case (n, desc) =>
      (n, "s", jobSum(j => if (j.desc == desc && j.endMs >= 0) (j.endMs - j.startMs) / 1000.0 else 0.0))
    }
    val (pu, pt) = (Stats.median(plainMs), Stats.median(tracedMs))
    val overhead = Seq(
      ("trace.untraced_op_p50_ms", "ms", pu),
      ("trace.traced_op_p50_ms", "ms", pt),
      ("trace.overhead_frac", "frac", pt / pu - 1))
    layer ++ stepMetrics ++ overhead
  }

  /** Seconds per job description over the untraced operations, for the
    * spans file: every label, not only the reported ones. */
  def stepTable(t: Tracer, plain: Seq[(Long, Long)]): Map[String, Double] = {
    val n = math.max(1, plain.size)
    plain.flatMap { case (a, b) => t.jobsIn(a, b) }.filter(_.endMs >= 0)
      .groupBy(j => if (j.desc.isEmpty) "(unlabeled)" else j.desc)
      .map { case (d, js) => d -> js.map(j => (j.endMs - j.startMs) / 1000.0).sum / n }
  }
}

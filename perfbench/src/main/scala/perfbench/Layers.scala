package perfbench

/**
 * The per-layer metrics of a traced run: for every span name below, each
 * [[Trace.SpanResult]] metric summed over the span's calls in a pass, then
 * the median over the traced passes. A name is reported on every workload,
 * with 0 where the workload does not call that layer.
 */
object Layers {

  val BuildPatientEvents = "omop.GenerateTrainingData.buildPatientEvents"
  val CreateSequences = "omop.Sequences.createSequenceDataWithAtt"
  val WriteSequences = "omop.GenerateTrainingData.write"
  val BaseCohort = "omop.cohort.BaseCohortBuilder.build"
  val NestedCohort = "omop.cohort.NestedCohortBuilder.build"

  val Spans: Seq[String] =
    Seq(BuildPatientEvents, CreateSequences, WriteSequences, BaseCohort, NestedCohort)

  private val Units = Map("wall_s" -> "s", "driver_s" -> "s", "plan_s" -> "s", "exec_s" -> "s",
    "jobs" -> "count", "task_cpu_s" -> "s", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB",
    "written_mb" -> "MB")

  /** `passes` are the traced passes of one run. */
  def metrics(passes: Seq[Main.Pass]): Seq[(String, Double, String)] = {
    val perSpan = for (s <- Spans; (m, u) <- Trace.MetricNames.map(m => m -> Units(m))) yield {
      val v = Main.median(passes.map(p =>
        p.spans.filter(_.name == s).flatMap(_.metrics.find(_._1 == m)).map(_._2).sum))
      (s"$s.$m", v, u)
    }
    perSpan ++ Seq(("pass.wall_s", Main.median(passes.map(_.wallS)), "s"),
      ("span_coverage", Main.median(passes.map(coverage)), "ratio"))
  }

  /** Share of a pass's wall time covered by the layer spans directly under
    * its root span. */
  def coverage(p: Main.Pass): Double = {
    val root = p.spans.indexWhere(_.parent == -1)
    p.spans.filter(_.parent == root).map(_.wallS).sum / p.wallS
  }
}

package perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Q

/** The two batch workloads: one closed-loop client runs every label of
  * the set once per pass, in an order drawn from the seed, each label
  * as `Q.run` (the DataFrame build) then a noop write (execution).
  */
object Batch {

  /** Every fourth label of the bootcamp's own modules (positions 4, 8,
    * ..., 64 of Relational, Joins, SetOps, Windows, Patterns and
    * Sessions): short one-to-few-job queries whose bodies hold almost
    * no eager build jobs, so planning and per-stage overhead dominate.
    * All 64 take ~50 s a pass on a 4-core host, more than one run may
    * spend; a systematic quarter keeps the mix.
    */
  val bootcamp: Seq[Q] = {
    import graft.queries._
    (Relational.all ++ Joins.all ++ SetOps.all ++ Windows.all ++
      Patterns.all ++ Sessions.all).zipWithIndex.collect {
      case (q, i) if i % 4 == 3 => q
    }
  }

  /** Multi-job curation labels: eager checkpoint/count/collect jobs at
    * build time, shuffles and `core.Par` overlap. q309 (~80 jobs) and
    * q279 (~36) lead the job-budget targets; the other curation labels
    * cost 2.5-7 s each, which one run cannot also afford.
    */
  val curation: Seq[Q] = Seq("q309_curation_incremental",
    "q279_lpa_communities").map { n =>
    graft.SparkEntry.allQueries.find(_.name == n)
      .getOrElse(sys.error(s"no query $n"))
  }

  /** One label run. `b0`..`e1` are epoch-ms stamps on the listener
    * events' clock: the build is `[b0, b1]`, the write `[e0, e1]`.
    * `buildMs`, `runMs` and `wall` are monotonic durations.
    */
  final case class LabelRun(label: String, b0: Long, b1: Long, e0: Long,
      e1: Long, buildMs: Double, runMs: Double, wall: Double, gcMs: Double,
      error: Option[String])

  /** A stretch of Spark work with no build, such as a stream cycle: its
    * build interval is empty, so every job in it counts as written.
    */
  def execOnly(label: String, e0: Long, e1: Long, wall: Double,
      gcMs: Double): LabelRun =
    LabelRun(label, e0, e0 - 1, e0, e1, 0, wall, wall, gcMs, None)

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One label: build, then execute. With a trace, the calls become
    * spans and the millisecond turns between them (`b1` before the
    * tick, `e0` after it), so every job is attributed to exactly one of
    * the two by its submit time.
    */
  def runLabel(spark: SparkSession, q: Q, dir: String,
      trace: Option[Trace]): LabelRun = {
    val g0 = gcMs()
    val n0 = Clock.ms
    val b0 = Clock.epochMs
    var b1, e0 = -1L
    var n1, n2 = n0
    val error =
      try {
        val df = q.run(spark, dir)
        n1 = Clock.ms
        b1 = Clock.epochMs
        e0 = if (trace.isEmpty) b1 else Clock.tick()
        n2 = Clock.ms
        noop(df)
        None
      } catch { case NonFatal(e) => Some(e.toString.take(300)) }
    val n3 = Clock.ms
    val e1 = Clock.epochMs
    // a build that threw owns the whole run
    if (b1 < 0) { b1 = e1; e0 = e1 + 1; n1 = n3; n2 = n3 }
    trace.foreach { t =>
      t.add("queries", "build", q.name, b0, b1)
      if (e0 <= e1) t.add("exec", "write", q.name, e0, e1)
    }
    LabelRun(q.name, b0, b1, e0, e1, n1 - n0, n3 - n2, n3 - n0, gcMs() - g0,
      error)
  }

  /** Per-layer sums over one traced pass. Jobs and stages belong to the
    * build or the write whose interval holds their submit time; every
    * job the listener saw must belong to one.
    */
  def layers(runs: Seq[LabelRun], t: Trace): Map[String, Double] = {
    /** The run and part (true: build) whose interval holds `at`. */
    def owner(at: Long): Option[(LabelRun, Boolean)] = runs.collectFirst {
      case r if r.b0 <= at && at <= r.b1 => r -> true
      case r if r.e0 <= at && at <= r.e1 => r -> false
    }
    val jobs = t.jobs.values.toSeq.map(j => j -> owner(j.submit))
    val lost = jobs.filter(_._2.isEmpty)
    if (lost.nonEmpty) throw new IllegalStateException(
      s"${lost.size} of ${jobs.size} jobs fell in no build or write " +
        s"interval: ${lost.map { case (j, _) =>
          s"job ${j.id} at ${j.submit}" }.mkString(", ")}")
    val stages = t.stages.values.filter(_.complete >= 0).toSeq
      .flatMap(s => owner(s.submit).map(o => s -> o._2))
    val bStages = stages.collect { case (s, true) => s }
    val eStages = stages.collect { case (s, false) => s }
    val all = bStages ++ eStages
    val phase = t.phases.filter(p => runs.exists(r => r.b0 <= p.start &&
      p.start <= r.e1)).groupBy(_.name).map { case (n, ps) =>
      n -> ps.map(_.dur).sum / 1e3 }.withDefaultValue(0.0)
    val busy = runs.map { r =>
      Trace.union(jobs.collect { case (j, Some((o, _))) if o eq r =>
        (math.max(j.submit, r.b0), math.min(j.end, r.e1)) })
    }
    val wallS = runs.map(_.wall).sum / 1e3
    Map(
      "queries.build_s" -> runs.map(_.buildMs).sum / 1e3,
      "queries.build_jobs" -> jobs.count(_._2.exists(_._2)).toDouble,
      "queries.build_task_s" -> bStages.map(_.taskMs).sum / 1e3,
      "plans.analyze_s" -> phase("analysis"),
      "plans.optimize_s" -> phase("optimization"),
      "plans.physical_s" -> phase("planning"),
      "exec.run_s" -> runs.map(_.runMs).sum / 1e3,
      "exec.jobs" -> jobs.count(_._2.exists(!_._2)).toDouble,
      "exec.stages" -> eStages.size.toDouble,
      "exec.tasks" -> eStages.map(_.tasks).sum.toDouble,
      "exec.task_s" -> eStages.map(_.taskMs).sum / 1e3,
      "exec.stage_overhead_s" -> all.map(s =>
        math.max(0L, s.complete - s.submit - s.maxTaskMs)).sum / 1e3,
      "exec.parallelism" -> all.map(_.taskMs).sum / 1e3 / math.max(wallS, 1e-9),
      "exec.driver_gap_s" -> runs.zip(busy).map { case (r, b) =>
        (r.e1 - r.b0 - b) / 1e3 }.sum,
      "exec.shuffle_read_mb" -> all.map(_.shuffleRead).sum / 1e6,
      "exec.shuffle_write_mb" -> all.map(_.shuffleWrite).sum / 1e6,
      "exec.spill_mb" -> all.map(_.spill).sum / 1e6,
      "exec.gc_s" -> runs.map(_.gcMs).sum / 1e3,
      "exec.failed_tasks" -> all.map(_.failedTasks).sum.toDouble)
  }
}

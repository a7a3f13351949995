package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call the benchmark made into a layer, or a
  * job, stage, planning phase or micro-batch the listeners reported.
  * Times are epoch milliseconds, the listener events' own clock.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    label: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** The benchmark's two clocks. `ms` is monotonic and fine-grained, for
  * durations only. `epochMs` is `System.currentTimeMillis`, the clock
  * Spark stamps listener events with, for every bound that is compared
  * with such a stamp.
  */
object Clock {
  private val baseNs = System.nanoTime()
  def ms: Double = (System.nanoTime() - baseNs) / 1e6
  def epochMs: Long = System.currentTimeMillis()

  /** Wait for the millisecond to turn and return the new one, so that a
    * job submitted before this call and one submitted after never share
    * a stamp.
    */
  def tick(): Long = {
    val m = epochMs
    var n = m
    while (n == m) { Thread.onSpinWait(); n = epochMs }
    n
  }
}

/** In-memory span recorder plus the public listeners that attribute
  * Spark's work to the benchmark's calls. Listener state is written on
  * the listener-bus threads; readers call [[drain]] first.
  *
  * Drain without `LiveListenerBus.waitUntilEmpty` (private[spark]):
  * SparkListeners and QueryExecutionListeners share the bus's "shared"
  * queue, which dispatches in posting order, and Spark posts a job's
  * task, stage and job-end events, and an action's SQL-execution end,
  * before the action returns. So after any action, running a marker
  * query (a literal SELECT) and waiting for its QueryExecutionListener
  * callback proves every earlier event has reached every listener. The
  * marker may itself run a job; its jobs carry the [[Trace.DrainKey]]
  * local property and are not recorded.
  */
final class Trace(spark: SparkSession, val runId: String) {

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]

  def add(layer: String, name: String, label: String, start: Long,
      end: Long, parent: Long = 0): Span = synchronized {
    val s = Span(ids.incrementAndGet(), parent, layer, name, label, start,
      end)
    spans += s
    s
  }

  import Trace.{Job, Phase, Stage}

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val phases = mutable.ArrayBuffer.empty[Phase]
  private val marks = mutable.Set.empty[String]
  /** Stages of the drain's own marker jobs, which belong to no label. */
  private val drainStages = mutable.Set.empty[Int]

  /** The stage's record, or none for a stage of a drain marker job. */
  private def stage(id: Int): Option[Stage] =
    if (drainStages(id)) None
    else Some(stages.getOrElseUpdate(id, new Stage(id)))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        if (Option(e.properties).exists(_.getProperty(Trace.DrainKey) != null))
          drainStages ++= e.stageIds
        else jobs(e.jobId) = Job(e.jobId, e.time, e.stageIds)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        stage(e.stageId).foreach { s =>
          val d = e.taskInfo.duration
          s.tasks += 1
          s.taskMs += d
          s.maxTaskMs = math.max(s.maxTaskMs, d)
          if (!e.taskInfo.successful) s.failedTasks += 1
          Option(e.taskMetrics).foreach { m =>
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.spill += m.diskBytesSpilled
          }
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stage(e.stageInfo.stageId).foreach { s =>
          s.submit = e.stageInfo.submissionTime.getOrElse(-1L)
          s.complete = e.stageInfo.completionTime.getOrElse(-1L)
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val plan = qe.logical.toString
      marks.find(plan.contains) match {
        case Some(m) =>
          marks -= m
          Trace.this.notifyAll()
        case None =>
          qe.tracker.phases.foreach { case (n, p) =>
            phases += Phase(n, p.startTimeMs, p.durationMs)
          }
      }
    }
  }

  /** Register the listeners, then drop what they received of events
    * posted before this call, which the bus may still be delivering.
    */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    drain()
    reset()
  }

  def stop(): Unit = {
    drain()
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Forget listener state (spans stay) before the next traced pass. */
  def reset(): Unit = synchronized {
    jobs.clear()
    stages.clear()
    phases.clear()
  }

  private var drains = 0
  def drain(): Unit = {
    drains += 1
    val m = s"perfbench-drain-$runId-$drains"
    synchronized(marks += m)
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.DrainKey, m)
    try spark.sql(s"SELECT '$m' AS drain_marker").collect()
    finally sc.setLocalProperty(Trace.DrainKey, null)
    await(s"listener drain $m")(!marks.contains(m))
  }

  private def await(what: String)(done: => Boolean): Unit =
    Trace.await(this, what)(done)

  /** Job, stage and planning-phase spans, parented to the benchmark
    * span whose interval holds their start.
    */
  def listenerSpans(): Unit = synchronized {
    val owners = spans.filter(s =>
      s.layer == "queries" || s.name == "write" || s.name == "cycle").toVector
    def owner(t: Long) = owners.find(s => s.start <= t && t <= s.end)
    phases.foreach { p =>
      owner(p.start).foreach(o =>
        add("plans", p.name, o.label, p.start, p.start + p.dur, o.id))
    }
    jobs.values.filter(_.end >= 0).foreach { j =>
      owner(j.submit).foreach { o =>
        val js = add("exec", s"job ${j.id}", o.label, j.submit, j.end, o.id)
        // a job also lists the stages it skipped because an earlier job
        // ran them; those belong to that job
        j.stageIds.flatMap(stages.get)
          .filter(s => s.complete >= 0 && s.submit >= j.submit).foreach { s =>
          add("exec", s"stage ${s.id}", o.label, s.submit, s.complete, js.id)
        }
      }
    }
  }

  /** Layer self time: each span's duration minus the part of its
    * interval its children cover, summed per layer, in seconds.
    */
  def selfSeconds(keep: Span => Boolean): Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    val byLayer = spans.filter(keep).groupBy(_.layer)
    Trace.Layers.map { layer =>
      layer -> byLayer.getOrElse(layer, Nil).map { s =>
        val cover = Trace.union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))).toSeq)
        s.dur - cover
      }.sum / 1000.0
    }.toMap
  }

  /** Share of the interval `[from, to]` covered by the spans `keep`
    * selects, clipped to it.
    */
  def coverage(keep: Span => Boolean, from: Long, to: Long): Double =
    synchronized {
      Trace.union(spans.filter(keep).map(s =>
        (math.max(s.start, from), math.min(s.end, to))).toSeq) /
        math.max(1L, to - from).toDouble
    }

  def writeSpans(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""layer":"${s.layer}","name":"${s.name}","label":"${s.label}",""" +
        s""""start":${s.start},"end":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  /** The layers spans are recorded for; `core` is timed directly. */
  val Layers = Seq("queries", "plans", "exec", "streaming")

  /** Local property that marks the drain's marker query's jobs. */
  val DrainKey = "perfbench.drain"

  final case class Job(id: Int, submit: Long, stageIds: Seq[Int],
      var end: Long = -1)
  final class Stage(val id: Int) {
    var submit, complete = -1L
    var tasks, failedTasks = 0
    var taskMs, maxTaskMs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
  }
  /** One Catalyst phase of one reported query execution. */
  final case class Phase(name: String, start: Long, dur: Long)

  /** Wait on `lock` (notified by a listener) until `done`, at most 60 s. */
  def await(lock: AnyRef, what: String)(done: => Boolean): Unit =
    lock.synchronized {
      val deadline = System.currentTimeMillis() + 60000
      while (!done) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(s"timed out: $what")
        lock.wait(left)
      }
    }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var covered, reach = 0L
    var first = true
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (first || a > reach) { covered += b - a; reach = b; first = false }
      else if (b > reach) { covered += b - reach; reach = b }
    }
    covered.toDouble
  }
}

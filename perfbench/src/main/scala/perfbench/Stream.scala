package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.streaming.StreamingJobs

/** The Flink source row the streaming ports consume. */
final case class WebEvent(url: String, referrer: String, user_agent: String,
    host: String, ip: String, headers: String, event_time: String)

/** The `stream` workload: the `events` table, mapped to web events,
  * fed through four `StreamingJobs` ports at once, each from its own
  * MemoryStream holding the same epochs. A cycle has two phases:
  *  - paced: an open-loop generator adds one epoch every
  *    [[EpochMs]] on a fixed schedule, whether or not the queries keep
  *    up, and each epoch's latency runs from when it was due;
  *  - drain: the rest of the events wait as a backlog and go in as
  *    bounded chunks of [[DrainChunk]] events, each processed by every
  *    query before the next is added.
  * Two far-future sentinel epochs then push the watermark past every
  * real window, so the append-mode outputs are final and comparable
  * with the same transforms run as a batch over the same events.
  */
object Stream {

  val EpochMs = 500
  val PacedEpochs = 16
  val EpochEvents = 500
  val DrainChunk = 25000
  val FlushHost = "flush.invalid"

  /** The events table in the web-event shape, with the event time in
    * epoch ms; the url carries `event_id`, so it is a unique event key.
    */
  def webEventsDf(spark: SparkSession, dir: String): DataFrame =
    graft.core.Tables.load(spark, dir, "events").selectExpr(
      "event_id", "unix_millis(ts) AS ms",
      "concat('/', event_type, '?e=', event_id) AS url",
      "concat('ref', user_id % 7) AS referrer",
      "concat('ua', user_id % 3) AS user_agent",
      "concat('host', user_id % 8, '.example') AS host",
      "concat('10.0.', user_id div 256 % 256, '.', user_id % 256) AS ip",
      "props AS headers",
      "date_format(ts, \"yyyy-MM-dd'T'HH:mm:ss.SSS'Z'\") AS event_time")

  /** The events in `event_id` order, each with its event time. */
  def webEvents(spark: SparkSession, dir: String): Array[(Long, WebEvent)] =
    webEventsDf(spark, dir).orderBy("event_id").collect().map { r =>
      def f(n: String) = r.getAs[String](n)
      r.getAs[Long]("ms") -> WebEvent(f("url"), f("referrer"),
        f("user_agent"), f("host"), f("ip"), f("headers"), f("event_time"))
    }

  final case class Plan(paced: Seq[Array[WebEvent]],
      drain: Seq[Array[WebEvent]], flush: Seq[Array[WebEvent]],
      twice: Seq[String])

  /** Arrival order and epoch cut from the seed. Each event arrives
    * behind its event time by up to 10 s, and one in a hundred is
    * delivered twice within 10 s; both stay inside the 15 s watermark,
    * so no event is late and the dedup state still holds every key
    * when its copy arrives. Paced epochs hold 50-150% of
    * [[EpochEvents]].
    */
  def plan(events: Array[(Long, WebEvent)], seed: Long,
      pacedEpochs: Int = PacedEpochs): Plan = {
    val rnd = new scala.util.Random(seed)
    val keyed = events.flatMap { case (ms, e) =>
      val a = ms + rnd.nextInt(10000)
      if (rnd.nextInt(100) == 0) Seq(a -> e, (a + rnd.nextInt(10000)) -> e)
      else Seq(a -> e)
    }
    val twice = keyed.groupBy(_._2.url).collect { case (u, xs) if xs.length > 1 => u }
    val arrival = keyed.sortBy(_._1).map(_._2)
    val sizes = Seq.fill(pacedEpochs)(EpochEvents / 2 + rnd.nextInt(EpochEvents + 1))
    val cuts = sizes.scanLeft(0)(_ + _)
    val paced = cuts.zip(cuts.tail).map { case (a, b) => arrival.slice(a, b) }
    val drain = arrival.drop(cuts.last).grouped(DrainChunk).toSeq
    val lastMs = events.map(_._1).max
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern(StreamingJobs.EventTimeFormat).withZone(java.time.ZoneOffset.UTC)
    val flush = Seq(1, 2).map { i =>
      Array(WebEvent(s"/flush?e=-$i", "ref", "ua", FlushHost, "0.0.0.0", "{}",
        fmt.format(java.time.Instant.ofEpochMilli(lastMs + 86400000L * i))))
    }
    Plan(paced, drain, flush, twice.toSeq)
  }

  def jobs(spark: SparkSession): Seq[(String, DataFrame => DataFrame)] = {
    import spark.implicits._
    val hostDim = (0 until 8).map(h => (s"host$h.example", s"tier${h % 3}"))
      .toDF("host", "tier")
    Seq(
      "tumble" -> StreamingJobs.tumblingHostAgg,
      "sessions" -> (df => StreamingJobs.sessionize(df)),
      "dedup" -> (df => StreamingJobs.dedupStream(df, Seq("url"))),
      "enrich" -> (df => StreamingJobs.enrichWithHostDim(df, hostDim)))
  }

  /** The batch computation each stream output must equal: the same
    * transform over the events, the twice-delivered ones twice, except
    * that batch Spark has no watermark-scoped dedup, and with no late
    * copies it is a plain one.
    */
  def expected(spark: SparkSession, dir: String, plan: Plan)
      : Map[String, Digest.Result] = {
    import spark.implicits._
    val events = webEventsDf(spark, dir).drop("event_id", "ms")
    val df = events.unionByName(events.join(plan.twice.toDF("url"), "url"))
    Main.parallel(jobs(spark)) {
      case ("dedup", _) => "dedup" ->
        Digest.checksum(StreamingJobs.withEventTime(df).dropDuplicates("url"))
      case (n, f) => n -> Digest.checksum(f(df))
    }.toMap
  }

  /** Progress of every micro-batch, from the public listener. */
  final class ProgressLog extends StreamingQueryListener {
    val all = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      all += e.progress
      notifyAll()
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

    /** Progress travels on its own listener queue; `lastProgress` is
      * set synchronously by the query, so waiting until the listener
      * has seen that batch drains the queue for the query.
      */
    def drain(qs: Seq[StreamingQuery]): Unit = qs.foreach { q =>
      Option(q.lastProgress).foreach { last =>
        Trace.await(this, s"progress of ${q.name} batch ${last.batchId}")(
          all.exists(p => p.id == q.id && p.batchId >= last.batchId))
      }
    }
  }

  /** One cycle. `start` and `end` are epoch-ms stamps on the listener
    * events' clock, taken before the queries start and after they have
    * stopped; `wall` is the monotonic time between them. `liveMb` is
    * [[Main.liveMb]] after the flush, while every query's state and
    * sink are live (NaN for a cycle without flush epochs).
    */
  final case class CycleResult(drainS: Double, drained: Int,
      emitLatencyS: Seq[Double], generatorLagS: Seq[Double],
      batches: Seq[StreamingQueryProgress], epochs: Int,
      outputs: Map[String, Digest.Result], liveMb: Double, start: Long,
      end: Long, wall: Double)

  private var cycles = 0

  private def started(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  private def done(p: StreamingQueryProgress): Long =
    started(p) + p.durationMs.getOrDefault("triggerExecution", 0L)

  def cycle(spark: SparkSession, plan: Plan, log: ProgressLog,
      trace: Option[Trace]): CycleResult = {
    cycles += 1
    val tag = s"c$cycles"
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // one source per query: a MemoryStream drops what its reader commits
    val inputs = jobs(spark).map(_ => MemoryStream[WebEvent])
    def add(events: Array[WebEvent]): Unit =
      inputs.foreach(_.addData(events.toSeq))
    val c0 = Clock.epochMs
    val n0 = Clock.ms
    val qs = jobs(spark).zip(inputs).map { case ((n, f), in) =>
      f(in.toDF()).writeStream.format("memory").queryName(s"pb_${n}_$tag")
        .outputMode("append").start()
    }
    val r = try {
      val t0 = Clock.epochMs + EpochMs
      val due = plan.paced.indices.map(k => t0 + k.toLong * EpochMs)
      val added = plan.paced.indices.map { k =>
        val wait = due(k) - Clock.epochMs
        if (wait > 0) Thread.sleep(wait)
        add(plan.paced(k))
        Clock.epochMs
      }
      qs.foreach(_.processAllAvailable())
      val d0 = Clock.ms
      plan.drain.foreach { c =>
        add(c)
        qs.foreach(_.processAllAvailable())
      }
      val d1 = Clock.ms
      plan.flush.foreach { c =>
        add(c)
        qs.foreach(_.processAllAvailable())
      }
      log.drain(qs)
      val ids = qs.map(_.id).toSet
      val batches = log.synchronized(log.all.filter(p => ids(p.id)).toSeq)
      def endOffset(p: StreamingQueryProgress) =
        p.sources.headOption.flatMap(s => Option(s.endOffset))
          .flatMap(_.trim.toLongOption).getOrElse(-1L)
      // each query's latency per epoch: from when the epoch was due to
      // the end of that query's first micro-batch that covered it
      val emit = for (k <- plan.paced.indices; q <- qs) yield
        batches.filter(p => p.id == q.id && endOffset(p) >= k)
          .map(done).minOption.fold(Double.NaN)(d => (d - due(k)).toDouble)
      // outputs are final, so comparable, only after the flush epochs
      val outputs = if (plan.flush.isEmpty) Map.empty[String, Digest.Result]
        else jobs(spark).map { case (n, _) =>
          n -> Digest.checksum(spark.table(s"pb_${n}_$tag")
            .filter(col("host") =!= FlushHost))
        }.toMap
      val live = if (plan.flush.isEmpty) Double.NaN else Main.liveMb()
      CycleResult((d1 - d0) / 1e3, plan.drain.map(_.length).sum,
        emit.map(_ / 1e3), added.zip(due).map { case (a, d) => (a - d) / 1e3 },
        batches, plan.paced.size + plan.drain.size, outputs, live, c0, c0, 0)
    } finally {
      qs.foreach(_.stop())
      jobs(spark).foreach { case (n, _) =>
        spark.catalog.dropTempView(s"pb_${n}_$tag")
      }
    }
    val res = r.copy(end = Clock.epochMs, wall = Clock.ms - n0)
    trace.foreach { t =>
      val root = t.add("streaming", "cycle", tag, res.start, res.end)
      res.batches.foreach { p =>
        t.add("streaming", s"batch ${p.batchId}", p.name, started(p), done(p),
          root.id)
      }
    }
    res
  }

  /** The streaming layer's metrics on a workload that does not use it. */
  def idle: Map[String, Double] = layers(CycleResult(0, 0, Nil, Nil, Nil, 0,
    Map.empty, Double.NaN, 0, 0, 0))

  /** Per-layer streaming metrics over the micro-batches of one cycle. */
  def layers(c: CycleResult): Map[String, Double] = {
    def sumMs(k: String) = c.batches.map(p =>
      p.durationMs.getOrDefault(k, 0L).toDouble).sum / 1e3
    def ev(p: StreamingQueryProgress, k: String) =
      Option(p.eventTime.get(k)).map(java.time.Instant.parse(_).toEpochMilli)
    val lags = c.batches.flatMap(p => for (m <- ev(p, "max");
      w <- ev(p, "watermark") if w > 0) yield (m - w) / 1e3)
    // each query's peak state, summed over the queries
    def peak(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      c.batches.groupBy(_.id).values.map(_.map(_.stateOperators.map(f).sum)
        .max).sum.toDouble
    Map(
      "streaming.batches" -> c.batches.size.toDouble,
      "streaming.batch_s" -> sumMs("triggerExecution"),
      "streaming.plan_s" -> sumMs("queryPlanning"),
      "streaming.add_batch_s" -> sumMs("addBatch"),
      "streaming.commit_s" -> (sumMs("walCommit") + sumMs("commitOffsets")),
      "streaming.state_rows" -> peak(_.numRowsTotal),
      "streaming.state_mb" -> peak(_.memoryUsedBytes) / 1e6,
      "streaming.watermark_lag_s" -> (if (lags.isEmpty) 0.0 else Stats.median(lags)),
      "streaming.generator_lag_s" -> c.generatorLagS.maxOption.getOrElse(0.0))
  }
}

package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import graft.queries.Q

object Stats {
  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = (s.size - 1) * q
      val lo = h.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}

/** The benchmark's JVM side: set up, measure one workload for a fixed
  * time, check its outputs, print the metrics. See README.md.
  *
  * {{{
  * perfbench.Main --workload bootcamp|curation|stream --seed N
  *   --seconds S --trace 0|1 --data DIR --expected FILE --out DIR
  * perfbench.Main --check-drain --data DIR --out DIR
  * perfbench.Main --dump-oracle FILE
  * }}}
  */
object Main {

  /** Session start and warmup are repeated this many times and the
    * median reported: one cold start plus warm ones, so work moved into
    * set-up shows without the JVM's first class loading dominating.
    */
  val SetupRounds = 3

  /** The batch warmup: the flagship query (`SparkEntry.entry`'s) on the
    * smallest tables. The verification pass then primes every label.
    */
  val WarmLabel: Q = graft.queries.Relational.q1_agg

  final case class Opts(args: Map[String, String]) {
    def apply(k: String): String =
      args.getOrElse(k, sys.error(s"missing --$k"))
    def workload: String = apply("workload")
    def seed: Long = apply("seed").toLong
    def seconds: Double = apply("seconds").toDouble
    def traced: Boolean = args.get("trace").contains("1")
    def sf: String = s"${apply("data")}/sf0.1"
    def warmSf: String = s"${apply("data")}/sf0.001"
    def cpus: String = Runtime.getRuntime.availableProcessors.toString
  }

  def main(argv: Array[String]): Unit = {
    val o = Opts(argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap ++ argv.filter(a => a == "--check-drain").map(_.drop(2) -> ""))
    if (o.args.contains("dump-oracle")) dumpOracle(o("dump-oracle"))
    else if (o.args.contains("check-drain")) DrainCheck.run(o)
    else run(o)
  }

  def labels(workload: String): Seq[Q] = workload match {
    case "bootcamp" => Batch.bootcamp
    case "curation" => Batch.curation
    case w => sys.error(s"unknown workload $w")
  }

  private val json = new ObjectMapper()

  def dumpOracle(path: String): Unit = {
    val m = new java.util.TreeMap[String, String]()
    (Batch.bootcamp ++ Batch.curation).foreach { q =>
      m.put(q.name, q.oracle.getOrElse(sys.error(s"${q.name}: no oracle")))
    }
    json.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), m)
    println(s"[perfbench] wrote ${m.size} oracle queries to $path")
  }

  final case class Setup(spark: SparkSession, sessionS: Double, warmS: Double)

  /** Start the session and warm it up [[SetupRounds]] times, stopping all
    * but the last session.
    */
  def setup(o: Opts, warm: SparkSession => Unit): Seq[Setup] =
    (1 to SetupRounds).map { i =>
      val t0 = Clock.ms
      val spark = graft.core.Sessions.local(o.cpus)
      val t1 = Clock.ms
      warm(spark)
      val t2 = Clock.ms
      if (i < SetupRounds) spark.stop()
      Setup(spark, (t1 - t0) / 1e3, (t2 - t1) / 1e3)
    }

  /** `f` over `items` on at most nproc threads, results in order. */
  def parallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(items.size, Runtime.getRuntime.availableProcessors)))
    try items.map(a => pool.submit(() => f(a))).map(_.get())
    finally pool.shutdown()
  }

  /** Memory the program holds, in MB: the heap in use after a full
    * collection, plus non-heap (metaspace, code cache) and direct and
    * mapped buffers in use. Read at the end of each batch pass, and in
    * each stream cycle once its input is done, so it shows what the
    * program holds (cached data, leaks, streaming state and sinks) and
    * not how far the collector let garbage pile up.
    */
  def liveMb(): Double = {
    import scala.jdk.CollectionConverters._
    import java.lang.management.{BufferPoolMXBean, ManagementFactory}
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(
      classOf[BufferPoolMXBean]).asScala.map(_.getMemoryUsed).sum
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed +
      buffers) / 1048576.0
  }

  /** What every workload reports besides its own numbers. */
  final case class Outcome(endToEnd: Map[String, Double],
      layers: Map[String, Double], attempted: Long, failed: Long,
      problems: Seq[String], detail: Map[String, Any])

  def run(o: Opts): Unit = {
    val out = java.nio.file.Paths.get(o("out"))
    val runId = s"${o.workload}-s${o.seed}-t${if (o.traced) 1 else 0}"
    val outcome = o.workload match {
      case "stream" => runStream(o, runId, out)
      case w => runBatch(o, labels(w), runId, out)
    }
    report(o, runId, out, outcome)
  }

  def expectedDigests(path: String): Map[String, (String, Long)] = {
    import scala.jdk.CollectionConverters._
    json.readTree(new java.io.File(path)).properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("digest").asText, e.getValue.get("rows").asLong)
    }.toMap
  }

  def runBatch(o: Opts, qs: Seq[Q], runId: String,
      out: java.nio.file.Path): Outcome = {
    val expected = expectedDigests(o("expected"))
    val setups = setup(o, spark => Batch.noop(WarmLabel.run(spark, o.warmSf)))
    val spark = setups.last.spark
    // untimed output check of every label at the measured scale, on
    // nproc client threads; it also fills the codegen cache the timed
    // passes then hit
    val v0 = Clock.ms
    val checks = parallel(qs) { q =>
      q.name -> (try {
        val got = Digest.of(q.run(spark, o.sf))
        expected.get(q.name) match {
          case None => Some("no expected digest")
          case Some((d, _)) if d == got.digest => None
          case Some((_, n)) => Some(s"output differs from the expected " +
            s"digest (${got.rows} rows, expected $n)")
        }
      } catch { case NonFatal(e) => Some(s"check failed: ${e.toString.take(200)}") })
    }.toMap
    val verifyS = (Clock.ms - v0) / 1e3
    // one more untimed pass, as the check ran nproc labels at once. Every
    // pass, this one too, ends with a full collection, so each timed
    // pass starts from a collected heap
    qs.foreach(q => Batch.runLabel(spark, q, o.sf, None))
    System.gc()
    val trace = new Trace(spark, runId)
    val calib = if (o.traced) calibrate(spark) else Map.empty[String, Double]
    // traced runs follow their first, still warming, pass with traced
    // and untraced passes in turn, so the tracing overhead is measured
    // inside one run between warm passes
    val first = new scala.util.Random(o.seed).shuffle(qs)
    val start = Clock.ms
    val passes = mutable.ArrayBuffer.empty[(Boolean, Seq[Batch.LabelRun])]
    val live = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val layerPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    while (passes.isEmpty || Clock.ms - start < o.seconds * 1e3 ||
        (o.traced && passes.size < 3)) {
      val traced = o.traced && passes.size % 2 == 1
      // a label's time depends on the label before it, so each pass
      // rotates the seed's order by one: every label takes every place.
      // A traced run keeps one rotation per traced/untraced pair.
      val rot = (if (o.traced) (passes.size + 1) / 2 else passes.size) % qs.size
      val order = first.drop(rot) ++ first.take(rot)
      if (traced) trace.start()
      val p0 = Clock.epochMs
      val runs = order.map(q =>
        Batch.runLabel(spark, q, o.sf, if (traced) Some(trace) else None))
      val p1 = Clock.epochMs
      passes += traced -> runs
      if (traced) {
        trace.stop()
        trace.listenerSpans()
        layerPasses += Batch.layers(runs, trace) ++
          trace.selfSeconds(_.start >= p0).map { case (l, s) => s"$l.self_s" -> s } +
          ("trace.coverage" -> trace.coverage(s => s.layer == "queries" ||
            s.layer == "exec" && s.name == "write", p0, p1))
        trace.reset()
      }
      live += traced -> liveMb()
    }
    val timed = passes.filterNot(_._1).flatMap(_._2)
    val all = passes.flatMap(_._2)
    val failedRuns = all.filter(r => r.error.nonEmpty || checks(r.label).nonEmpty)
    val problems = checks.collect { case (l, Some(why)) => s"$l: $why" }.toSeq ++
      all.flatMap(r => r.error.map(e => s"${r.label}: failed: $e")).distinct
    val lat = timed.filter(_.error.isEmpty).map(_.wall / 1e3)
    val passWall = passes.filterNot(_._1).map(_._2.map(_.wall).sum / 1e3)
    val endToEnd = Map(
      "setup_s" -> Stats.median(setups.map(s => s.sessionS + s.warmS)),
      "pass_s" -> Stats.median(passWall),
      "query_p50_s" -> Stats.median(lat),
      "query_p90_s" -> Stats.quantile(lat, 0.9),
      "peak_live_mb" -> live.filterNot(_._1).map(_._2).max)
    val layers = if (!o.traced) Map.empty[String, Double] else {
      val tracedWall = passes.filter(_._1).map(_._2.map(_.wall).sum / 1e3)
      medians(layerPasses.toSeq) ++ Stream.idle ++ coreLayers(setups) ++
        calib + ("trace.overhead" -> Stats.median(tracedWall) /
          Stats.median(passWall.drop(1)))
    }
    if (o.traced) trace.writeSpans(out.resolve(s"spans/$runId.jsonl"))
    spark.stop()
    Outcome(endToEnd, layers, all.size, failedRuns.size, problems,
      Map("passes_s" -> passWall.mkString(","), "labels" -> qs.size,
        "verify_s" -> verifyS,
        "label_median_s" -> timed.groupBy(_.label).map { case (l, rs) =>
          l -> Stats.median(rs.map(_.wall / 1e3)) }))
  }

  def runStream(o: Opts, runId: String, out: java.nio.file.Path): Outcome = {
    val log = new Stream.ProgressLog
    val setups = setup(o, spark => {
      spark.streams.addListener(log)
      val warm = Stream.plan(Stream.webEvents(spark, o.warmSf), o.seed, 1)
      Stream.cycle(spark, warm.copy(drain = Nil, flush = Nil), log, None)
    })
    val spark = setups.last.spark
    val trace = new Trace(spark, runId)
    val calib = if (o.traced) calibrate(spark) else Map.empty[String, Double]
    val plan = Stream.plan(Stream.webEvents(spark, o.sf), o.seed)
    val x0 = Clock.ms
    val expected = Stream.expected(spark, o.sf, plan)
    val expectedS = (Clock.ms - x0) / 1e3
    // untimed drain-only cycles first: after one, the next cycles still
    // drained 15-20% faster each on a 4-core host
    for (_ <- 1 to 2)
      Stream.cycle(spark, plan.copy(paced = Nil, flush = Nil), log, None)
    System.gc()
    val start = Clock.ms
    val cycles = mutable.ArrayBuffer.empty[(Boolean, Stream.CycleResult)]
    val live = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val layerCycles = mutable.ArrayBuffer.empty[Map[String, Double]]
    while (cycles.isEmpty || Clock.ms - start < o.seconds * 1e3 ||
        (o.traced && cycles.size < 3)) {
      val traced = o.traced && cycles.size % 2 == 1
      if (traced) trace.start()
      val g0 = Batch.gcMs()
      val c = Stream.cycle(spark, plan, log, if (traced) Some(trace) else None)
      cycles += traced -> c
      if (traced) {
        trace.stop()
        trace.listenerSpans()
        val whole = Batch.execOnly("stream", c.start, c.end, c.wall,
          Batch.gcMs() - g0)
        layerCycles += Batch.layers(Seq(whole), trace) ++ Stream.layers(c) ++
          trace.selfSeconds(_.start >= c.start).map { case (l, s) => s"$l.self_s" -> s } +
          ("trace.coverage" -> trace.coverage(s => s.layer == "streaming" &&
            s.name != "cycle", c.start, c.end))
        trace.reset()
      }
      live += traced -> c.liveMb
    }
    val mismatched = cycles.map(_._2).filter(c => c.outputs.exists {
      case (n, d) => expected(n).digest != d.digest })
    val problems = mismatched.flatMap(_.outputs.collect {
      case (n, d) if expected(n).digest != d.digest =>
        s"$n: stream output (${d.rows} rows) differs from the batch " +
          s"computation (${expected(n).rows} rows)"
    }).distinct.toSeq
    val timed = cycles.filterNot(_._1).map(_._2)
    val emit = timed.flatMap(_.emitLatencyS)
    val endToEnd = Map(
      "setup_s" -> Stats.median(setups.map(s => s.sessionS + s.warmS)),
      "pass_s" -> Stats.median(timed.map(_.drainS)),
      "query_p50_s" -> Stats.median(emit),
      "query_p90_s" -> Stats.quantile(emit, 0.9),
      "peak_live_mb" -> live.filterNot(_._1).map(_._2).max)
    val layers = if (!o.traced) Map.empty[String, Double] else {
      medians(layerCycles.toSeq) ++ coreLayers(setups) ++ calib +
        ("trace.overhead" -> Stats.median(cycles.filter(_._1).map(_._2.drainS)) /
          Stats.median(timed.map(_.drainS).drop(1)))
    }
    if (o.traced) trace.writeSpans(out.resolve(s"spans/$runId.jsonl"))
    spark.stop()
    val drained = timed.map(_.drained).headOption.getOrElse(0)
    Outcome(endToEnd, layers, cycles.map(_._2.epochs).sum,
      mismatched.map(_.epochs).sum, problems,
      Map("drain_s" -> timed.map(_.drainS).mkString(","),
        "emit_samples" -> emit.size,
        "expected_s" -> expectedS,
        "emit_latency_p50_s" -> endToEnd("query_p50_s"),
        "emit_latency_p90_s" -> endToEnd("query_p90_s"),
        "drain_eps" -> drained / endToEnd("pass_s")))
  }

  def medians(xs: Seq[Map[String, Double]]): Map[String, Double] =
    xs.flatMap(_.keys).distinct.map(k =>
      k -> Stats.median(xs.flatMap(_.get(k)))).toMap

  def coreLayers(setups: Seq[Setup]): Map[String, Double] = Map(
    "core.session_s" -> Stats.median(setups.map(_.sessionS)),
    "core.warmup_s" -> Stats.median(setups.map(_.warmS)))

  /** The host calibration pair, as context beside each traced result. */
  def calibrate(spark: SparkSession): Map[String, Double] = Map(
    "calib.cpu_md5_s" -> graft.core.Calib.median3(graft.core.Calib.cpuMd5()),
    "calib.spark_range_s" -> graft.core.Calib.sparkRange(spark))

  /** Human-readable lines, a detail file, then one JSON line with every
    * metric the run measured; `run.py` prints the contract's metrics
    * with their units.
    */
  def report(o: Opts, runId: String, out: java.nio.file.Path,
      r: Outcome): Unit = {
    import scala.jdk.CollectionConverters._
    val values = (if (o.traced) r.layers else r.endToEnd).toSeq.sortBy(_._1)
    def unit(k: String) =
      if (k.endsWith("_s")) " s" else if (k.endsWith("_eps")) " 1/s" else ""
    (r.detail - "label_median_s").foreach { case (k, v) =>
      println(s"[perfbench] $runId $k = $v${unit(k)}")
    }
    println(f"[perfbench] $runId error_rate = ${r.failed.toDouble / r.attempted}%.4f " +
      s"(${r.failed} of ${r.attempted})")
    r.problems.sorted.foreach(p => println(s"[perfbench] $runId check: $p"))
    val res = new java.util.LinkedHashMap[String, Any]()
    res.put("correct", r.failed == 0)
    res.put("attempted", r.attempted)
    res.put("failed", r.failed)
    res.put("metrics", values.toMap.asJava)
    val detail = new java.util.LinkedHashMap[String, Any](res)
    detail.put("problems", r.problems.asJava)
    detail.put("detail", r.detail.map {
      case (k, m: Map[_, _]) => k -> m.asJava
      case kv => kv
    }.asJava)
    java.nio.file.Files.createDirectories(out.resolve("results"))
    json.writerWithDefaultPrettyPrinter()
      .writeValue(out.resolve(s"results/$runId.json").toFile, detail)
    println(json.writeValueAsString(res))
  }
}


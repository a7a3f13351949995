package perfbench

/** Self-test of the listener drain: two traced runs of the same label
  * must attribute identical job, stage and task counts. If the drain
  * returned before the bus delivered every event, the counts of the
  * run read early would come up short. `Batch.layers` also fails the
  * check if any job the listener saw falls outside the label's build
  * and write.
  */
object DrainCheck {
  val Labels = Seq("q1_agg", "q309_curation_incremental")
  val Counts = Seq("exec.jobs", "exec.stages", "exec.tasks",
    "queries.build_jobs")

  def run(o: Main.Opts): Unit = {
    val spark = graft.core.Sessions.local(o.cpus)
    val trace = new Trace(spark, "check-drain")
    val bad = Labels.filterNot { name =>
      val q = graft.SparkEntry.allQueries.find(_.name == name).get
      Batch.runLabel(spark, q, o.sf, None)
      val counts = (1 to 2).map { _ =>
        trace.start()
        val r = Batch.runLabel(spark, q, o.sf, Some(trace))
        trace.stop()
        val counts = Counts.map(Batch.layers(Seq(r), trace)) :+
          trace.jobs.size.toDouble
        trace.reset()
        counts
      }
      println(s"[perfbench] check-drain $name ${Counts.mkString(",")},jobs seen: " +
        counts.map(_.map(_.toLong).mkString("/")).mkString(" vs "))
      counts.distinct.size == 1
    }
    spark.stop()
    if (bad.nonEmpty) {
      println(s"[perfbench] check-drain FAILED: ${bad.mkString(", ")}")
      sys.exit(1)
    }
    println("[perfbench] check-drain passed")
  }
}

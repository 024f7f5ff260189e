package perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Micro-batch figures of the streams a workload ran: phases from the
  * progress events of every data-carrying batch, and with tracing the jobs
  * its batches submitted (whatever module they were attributed to). */
object Streams {
  def figures(c: Ctx, progress: Seq[StreamingQueryProgress], streams: Seq[Span],
      rounds: Int): Unit = {
    val res = c.res
    def phase(k: String) =
      progress.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue))
    val trig = phase("triggerExecution")
    System.err.println("stream phases (median ms): " +
      progress.flatMap(_.durationMs.keySet.toArray.map(_.toString)).distinct.sorted
        .map(k => s"$k=${Results.median(phase(k))}").mkString(" "))
    res.metric("streaming.batches", progress.size.toDouble / rounds, "count")
    res.metric("streaming.batch_ms_p50", Results.median(trig), "ms")
    res.metric("streaming.overhead_ms_p50",
      Results.median(trig.zip(phase("addBatch")).map { case (t, a) => t - a }), "ms")
    res.metric("streaming.planning_ms_p50", Results.median(phase("queryPlanning")), "ms")
    if (c.trace.enabled) {
      val js = c.trace.jobsIn(streams)
      val nb = progress.size.toDouble
      res.metric("streaming.jobs_per_batch", js.size / nb, "count")
      res.metric("streaming.tasks_per_batch", js.map(_.tasks).sum / nb, "count")
      res.metric("streaming.shuffle_bytes_per_batch", js.map(_.shuffleBytes).sum / nb, "bytes")
      res.metric("streaming.task_cpu_ms", js.map(_.cpuNs).sum / 1e6 / rounds, "ms")
      res.metric("streaming.outside_jobs_ms", c.trace.outsideJobsMs(streams, js) / rounds, "ms")
    }
  }
}

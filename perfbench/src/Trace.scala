package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region around a call into a module: name, start, end (epoch
  * nanoseconds), the enclosing span and an operation id (batch id, serve
  * number, pass number; -1 when none). */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Spark work attributed to one job: the span that was open on the
  * submitting thread, its interval and its tasks' totals. */
final class JobRec(val id: Int, val span: String, val start: Long) {
  var end: Long = -1L
  var tasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
}

/** Benchmark-owned instrumentation.
  *
  * Spans are always timed: the end-to-end figures are read from them. With
  * tracing on, each span also names itself in the `perfbench.span` local
  * property before the call, so a [[SparkListener]] can attribute every job
  * (and its tasks' CPU and shuffle bytes) to the module that was called;
  * local properties are inherited by the threads a call starts (stream
  * execution, `Par.run` pools). Streaming progress always comes from a
  * [[StreamingQueryListener]], which sees every batch, unlike
  * `recentProgress`, which keeps only the last 100. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace.Key

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowNs: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  private val spans = mutable.ArrayBuffer.empty[Span]
  // inheritable: a span opened on a thread a call started (the stream's
  // execution thread) nests under the span that made the call
  private val stack = new InheritableThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0

  def span[T](name: String, op: Long = -1L)(body: => T): T = {
    val o = open(name, op)
    try body finally close(o)
  }

  /** A span whose start and end fall in different callbacks (on one
    * thread): [[open]] returns the handle [[close]] takes. */
  final case class Open(id: Int, name: String, op: Long, parents: List[Int],
      prev: String, start: Long)

  def open(name: String, op: Long = -1L): Open = {
    val sc = spark.sparkContext
    val id = synchronized { nextId += 1; nextId }
    val parents = stack.get()
    val o = Open(id, name, op, parents, sc.getLocalProperty(Key), nowNs)
    if (enabled) sc.setLocalProperty(Key, name)
    stack.set(id :: parents)
    o
  }

  def close(o: Open): Span = {
    val e = nowNs
    stack.set(o.parents)
    if (enabled) spark.sparkContext.setLocalProperty(Key, o.prev)
    val s = Span(o.id, o.name, o.parents.headOption.getOrElse(0), o.op, o.start, e)
    synchronized { spans += s }
    s
  }

  def all: Seq[Span] = synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  // ------------------------------------------------------------ Spark jobs
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .getOrElse("unattributed")
      val j = new JobRec(e.jobId, span, e.time * 1000000L)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
    }
  }

  // ------------------------------------------------------ stream progress
  private val progress = mutable.ArrayBuffer.empty[
    org.apache.spark.sql.streaming.StreamingQueryProgress]
  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.streams.addListener(progressListener)
  if (enabled) spark.sparkContext.addSparkListener(jobListener)

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Progress of every data-carrying batch of the query named `name`. */
  def batches(name: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    drain()
    synchronized(progress.toList).filter(p => p.name == name && p.numInputRows > 0)
  }

  def allJobs: Seq[JobRec] = {
    drain()
    synchronized(jobs.values.toList)
  }

  /** Jobs submitted inside any of `within` (job times have millisecond
    * resolution, hence the 1 ms of slack at the start). */
  def jobsIn(within: Seq[Span]): Seq[JobRec] =
    allJobs.filter(j => within.exists(s => j.start + 1000000L >= s.start && j.start <= s.end))

  /** Time inside `within` that no job of `js` covers, in ms. */
  def outsideJobsMs(within: Seq[Span], js: Seq[JobRec]): Double = {
    val iv = js.filter(_.end >= 0).map(j => (j.start, j.end)).sortBy(_._1)
    within.map { s =>
      var covered = 0L
      var cur = s.start
      iv.foreach { case (a0, b0) =>
        val a = math.max(a0, cur)
        val b = math.min(b0, s.end)
        if (b > a) { covered += b - a; cur = b }
      }
      (s.end - s.start - covered) / 1e6
    }.sum
  }

  /** Every span, one JSON object a line; and a per-name summary of self
    * time (duration minus the part covered by child spans) and counts. */
  def write(path: java.nio.file.Path): Unit = {
    val ss = all
    val sb = new StringBuilder
    ss.foreach { s =>
      sb ++= s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"start_ns":${s.start},"end_ns":${s.end}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    val js = if (enabled) allJobs else Nil
    val byName = ss.groupBy(_.name).toSeq.sortBy(_._1)
    System.err.println(f"${"span"}%-28s ${"calls"}%6s ${"total_ms"}%10s ${"self_ms"}%10s ${"jobs"}%6s ${"tasks"}%7s")
    byName.foreach { case (n, xs) =>
      val tot = xs.map(_.ms).sum
      val self = xs.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
      val mj = js.filter(_.span == n)
      System.err.println(f"$n%-28s ${xs.size}%6d $tot%10.1f $self%10.1f ${mj.size}%6d ${mj.map(_.tasks).sum}%7d")
    }
  }
}

object Trace {
  val Key = "perfbench.span"
}

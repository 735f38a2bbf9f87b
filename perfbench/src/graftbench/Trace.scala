package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch time in nanoseconds, monotonic within the process. Spark stamps
  * job submission with `System.currentTimeMillis`, so spans are kept on
  * the same epoch scale to be comparable with it. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowNs: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
}

/** One span: a call of the benchmark into a layer. `run` is the pass the
  * span belongs to; `parent` is -1 for a root. */
final case class Span(id: Int, name: String, parent: Int, run: Int,
                      depth: Int, startNs: Long, var endNs: Long = -1L)

/** Spark work attributed to a span. */
final case class Cost(jobs: Long = 0, taskMs: Long = 0,
                      shuffleBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Cost): Cost = Cost(jobs + o.jobs, taskMs + o.taskMs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
}

/** Micro-batch phase durations from a StreamingQueryListener. */
final case class Trigger(queryId: String, batchId: Long, triggerMs: Long,
                         addBatchMs: Long)

/** Spans opened by the benchmark's one driver thread, plus the Spark jobs
  * and micro-batches seen while they were open. Everything stays in
  * memory; attribution happens once, at [[attribute]].
  *
  * A job belongs to the innermost span open at its SUBMISSION time. Job
  * groups or local properties cannot be used: `graft.ops.Jobs` submits
  * from cached-pool threads whose inherited local properties are those
  * of whichever span first created the thread. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  // listener-bus thread writes, driver thread reads after a drain
  private val jobSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val stageCost = new java.util.concurrent.ConcurrentHashMap[Int, Cost]
  private val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]
  @volatile private var sc: Option[SparkContext] = None
  private var run = 0

  val jobListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobSubmitMs.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = Cost(0, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
        stageCost.merge(e.stageId, c, (a, b) => a + b)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      if (p.numInputRows > 0 && d.contains("triggerExecution"))
        triggers.add(Trigger(p.id.toString, p.batchId, d("triggerExecution"),
          d.get("addBatch").map(_.toLong).getOrElse(0L)))
    }
  }

  /** Register both listeners (traced passes only). */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    sc = Some(spark.sparkContext)
  }

  def detach(spark: SparkSession): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    sc = None
  }

  def drain(): Unit = sc.foreach(org.apache.spark.BenchBus.drain)

  def setRun(r: Int): Unit = run = r

  def open(name: String): Span = {
    val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
      run, stack.length, Clock.nowNs)
    spans += s
    stack.push(s)
    s
  }

  def close(s: Span): Unit = {
    s.endNs = Clock.nowNs
    // every job the span submitted has finished; its task-end events may
    // still be queued on the bus
    drain()
    require(stack.headOption.contains(s), s"span ${s.name} closed out of order")
    stack.pop()
    ()
  }

  def allSpans: Seq[Span] = spans.toSeq
  def allTriggers: Seq[Trigger] = triggers.asScala.toSeq

  /** Cost of each span, jobs attributed to the innermost span open at the
    * job's submission. Spark stamps submission in whole milliseconds, so a
    * span matches when the job's millisecond lies within its
    * [floor(start), floor(end)] window; the deepest match wins, then the
    * latest-started (a span that opened in the same millisecond as its
    * predecessor closed is the one that can still submit). Returns the
    * span's OWN cost; see [[inclusive]]. */
  def attribute(): Map[Int, Cost] = {
    drain()
    val closed = spans.filter(_.endNs >= 0).toSeq
    val byJob = mutable.Map.empty[Int, Cost]
    stageCost.asScala.foreach { case (stage, c) =>
      Option(stageJob.get(stage)).foreach(j =>
        byJob(j) = byJob.getOrElse(j, Cost()) + c)
    }
    val own = mutable.Map.empty[Int, Cost]
    jobSubmitMs.asScala.foreach { case (job, t) =>
      val hits = closed.filter(s =>
        s.startNs / 1000000L <= t && t <= s.endNs / 1000000L)
      if (hits.nonEmpty) {
        val s = hits.maxBy(s => (s.depth, s.startNs))
        own(s.id) = own.getOrElse(s.id, Cost()) +
          byJob.getOrElse(job, Cost()).copy(jobs = 1)
      }
    }
    own.toMap
  }

  /** A span's cost including its descendants'. */
  def inclusive(own: Map[Int, Cost]): Map[Int, Cost] = {
    val total = mutable.Map.empty[Int, Cost]
    // children always have larger ids than their parents
    spans.reverseIterator.foreach { s =>
      val c = total.getOrElse(s.id, Cost()) + own.getOrElse(s.id, Cost())
      total(s.id) = c
      if (s.parent >= 0)
        total(s.parent) = total.getOrElse(s.parent, Cost()) + c
    }
    total.toMap
  }

  /** Spans as JSON lines: name, start, end, parent, run. */
  def writeSpans(path: String): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""run":${s.run},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
    ()
  }
}

/** Order statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)-th smallest value, whose percentile is 100·(n-10)/n. Below
    * eleven samples no percentile qualifies and the median is reported,
    * at percentile 50. Returns (value, percentile, n). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    if (n < 11) (median(xs), 50.0, n)
    else (xs.sorted.apply(n - 11), 100.0 * (n - 10) / n, n)
  }
}

package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Small JSON writer for the result file (numbers, strings, booleans,
  * sequences, maps) and a Jackson-backed reader for truth files. */
object Json {
  def encode(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => encode(k.toString) + ":" + encode(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"cannot encode $other")
  }

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))

  import com.fasterxml.jackson.databind.JsonNode
  import scala.jdk.CollectionConverters._
  def seq(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
  def strs(n: JsonNode): Seq[String] = seq(n).map(_.asText())
  def longs(n: JsonNode): Seq[Long] = seq(n).map(_.asLong())
}

/** What one benchmark call records: per call name, the steady-pass
  * latencies; the failure count; and, in a traced pass, a span. */
final class Ctx(val spark: SparkSession, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var traced = false
  var steady = false
  val callMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** One call into a layer: timed, counted, and a span when traced. */
  def call[T](name: String)(body: => T): T = {
    attempted += 1
    val span = if (traced) Some(tracer.open(name)) else None
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable =>
      failed += 1
      failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
      throw e
    } finally {
      val ms = (System.nanoTime() - t0) / 1e6
      span.foreach(tracer.close)
      println(f"call $name $ms%.1f ms")
      if (steady) callMs.getOrElseUpdate(name,
        mutable.ArrayBuffer.empty[Double]) += ms
    }
  }

  /** One output check against planted truth. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += s"check $name: $detail"
    }
  }
}

/** A workload: its passes drive the engine's public entry points. */
trait Workload {
  /** Input rows, docs or vectors one pass consumes. */
  def rowsPerPass: Long
  /** Passes the generated input provides. */
  def maxPasses: Int = Int.MaxValue
  /** The timed body of pass `p`: calls into the engine only. */
  def pass(p: Int, ctx: Ctx): Unit
  /** Untimed: check pass `p`'s outputs against planted truth. */
  def check(p: Int, ctx: Ctx): Unit
  /** End-to-end figures specific to this workload (report only), and the
    * product of its quality scores (gated as `quality`). */
  def report(ctx: Ctx): (Map[String, Double], Double)
  /** Layer figures beyond the per-span ones (traced runs). */
  def layerExtras(ctx: Ctx, steadyTraced: Set[Int]): Map[String, Double] =
    Map.empty
  def close(): Unit = ()
}

object Main {
  private def session(): SparkSession =
    graft.tools.Harness.session(Runtime.getRuntime.availableProcessors().toString)

  private def writeFile(path: String, s: String): Unit = {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s)
    ()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    opts("mode") match {
      case "probe" =>
        // set-up probe: a fresh process reaching a ready session
        val spark = session()
        writeFile(opts("out"), System.currentTimeMillis().toString)
        spark.stop()
      case "selftest" => SelfTest.run()
      case "run" => run(opts)
    }
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  def run(opts: Map[String, String]): Unit = {
    val wName = opts("workload")
    val seconds = opts("seconds").toDouble
    val traceMode = opts("trace") == "1"
    val in = opts("input")
    val work = opts("work")
    val spark = session()
    val readyMs = System.currentTimeMillis()
    val wallStart = System.nanoTime()
    val cpuStart = cpuSeconds()
    val tracer = new Tracer
    val ctx = new Ctx(spark, tracer)
    val w: Workload = wName match {
      case "lifecycle" => new Lifecycle(spark, in, work)
      case "index_stream" => new IndexStream(spark, in, work)
    }
    // (pass, wall seconds, traced)
    val passes = mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
    val passSpan = mutable.Map.empty[Int, Span]
    var liveHeapMb = 0.0
    def runPass(p: Int, traced: Boolean): Unit = {
      ctx.traced = traced
      ctx.steady = p > 0
      if (traced) { tracer.attach(spark); tracer.setRun(p) }
      val root = if (traced) Some(tracer.open(s"$wName.pass")) else None
      val t0 = System.nanoTime()
      try w.pass(p, ctx)
      finally {
        val wall = (System.nanoTime() - t0) / 1e9
        root.foreach { r => tracer.close(r); passSpan(p) = r }
        if (traced) tracer.detach(spark)
        passes += ((p, wall, traced))
        println(f"pass $p%d ${if (traced) "traced" else "untraced"} " +
          f"$wall%.3f s")
      }
      w.check(p, ctx)
      // untimed: the heap the pass left live, after a full collection
      System.gc()
      liveHeapMb = math.max(liveHeapMb, java.lang.management.ManagementFactory
        .getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    }
    try {
      runPass(0, traceMode)
      var p = 1
      // --seconds counts the steady passes' own time, not their checks. A
      // traced run alternates traced and untraced passes, so the tracing
      // overhead is measured inside the run; it needs one of each
      def enough = passes.drop(1).map(_._2).sum >= seconds &&
        (!traceMode || p >= 3)
      while (!enough && p < w.maxPasses && ctx.failed == 0) {
        runPass(p, traceMode && p % 2 == 1)
        p += 1
      }
    } catch { case e: Throwable =>
      if (ctx.failures.isEmpty) {
        ctx.failed += 1
        ctx.failures += s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      e.printStackTrace()
    }
    val steady = passes.filter(_._1 > 0).toSeq
    val results = mutable.LinkedHashMap.empty[String, Any]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val report = mutable.LinkedHashMap.empty[String, Any]
    val ok = ctx.failed == 0 && steady.nonEmpty
    if (ok) {
      val (extra, quality) = w.report(ctx)
      if (!traceMode) {
        metrics("first_pass_s") = passes.head._2
        metrics("rows_per_s") =
          w.rowsPerPass / Stats.median(steady.map(_._2))
        metrics("quality") = quality
      } else {
        val steadyTraced = steady.filter(_._3).map(_._1).toSet
        val own = tracer.attribute()
        val incl = tracer.inclusive(own)
        val cores = spark.sparkContext.defaultParallelism
        val layerSpans = tracer.allSpans
          .filter(s => steadyTraced(s.run) && s.depth == 1)
        layerSpans.groupBy(_.name).foreach { case (name, ss) =>
          def med(f: Span => Double) = Stats.median(ss.map(f))
          def wallMs(s: Span) = (s.endNs - s.startNs) / 1e6
          def cost(s: Span) = incl.getOrElse(s.id, Cost())
          metrics(s"$name.wall_ms") = med(wallMs)
          metrics(s"$name.jobs") = med(cost(_).jobs.toDouble)
          metrics(s"$name.task_s") = med(cost(_).taskMs / 1e3)
          metrics(s"$name.dispatch_ms") =
            med(s => wallMs(s) - cost(s).taskMs.toDouble / cores)
          metrics(s"$name.shuffle_bytes") = med(cost(_).shuffleBytes.toDouble)
        }
        val roots = steadyTraced.toSeq.map(passSpan)
        metrics("spill_bytes") =
          Stats.median(roots.map(r => incl.getOrElse(r.id, Cost()).spillBytes
            .toDouble))
        metrics("trace_coverage") = Stats.median(roots.map { r =>
          val inside = layerSpans.filter(_.parent == r.id)
            .map(s => (s.endNs - s.startNs).toDouble).sum
          inside / (r.endNs - r.startNs)
        })
        val (tr, un) = steady.partition(_._3)
        metrics("tracing_overhead") =
          Stats.median(un.map(_._2)) / Stats.median(tr.map(_._2))
        metrics ++= w.layerExtras(ctx, steadyTraced)
      }
      report ++= extra
      report("quality") = quality
      report("calls") = ctx.callMs.map { case (k, v) =>
        val (tail, pct, n) = Stats.tail(v.toSeq)
        k -> Map("n" -> n, "p50_ms" -> Stats.median(v.toSeq),
          "tail_ms" -> tail, "tail_pct" -> pct)
      }
    }
    if (traceMode) tracer.writeSpans(s"$work/spans.jsonl")
    try w.close() catch { case e: Throwable => e.printStackTrace() }
    val wall = (System.nanoTime() - wallStart) / 1e9
    if (!traceMode) metrics("live_heap_mb") = liveHeapMb
    report("peak_rss_mb") = peakRssMb()
    report("failed_ratio") = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    results("ready_ms") = readyMs
    results("attempted") = ctx.attempted
    results("failed") = ctx.failed
    results("failures") = ctx.failures.toSeq
    results("passes") = passes.map { case (p, s, t) =>
      Map("pass" -> p, "s" -> s, "traced" -> t) }
    results("metrics") = metrics
    results("report") = report
    results("cpu_s") = cpuSeconds() - cpuStart
    results("wall_s") = wall
    writeFile(opts("out"), Json.encode(results))
    ctx.failures.foreach(f => println(s"FAILED $f"))
    spark.stop()
  }
}

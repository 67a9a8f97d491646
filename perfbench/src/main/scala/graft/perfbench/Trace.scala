package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. `trace` is shared by every span of one iteration;
  * `parent` is 0 for a root. Counters are filled from Spark's listeners
  * (jobs and stages carry the span id as a local property) and from
  * driver-side deltas taken at the span's edges. */
final class Span(val id: Long, val parent: Long, val trace: Long,
    val name: String, val startNs: Long, val startEpochMs: Long) {
  var endNs: Long = startNs
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def durNs: Long = endNs - startNs
  def add(k: String, v: Double): Unit = synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }
}

object Spans {
  /** Length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval that
    * its children cover (children may overlap each other). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { p =>
      val covered = unionLength(kids.getOrElse(p.id, Nil)
        .map(c => (math.max(c.startNs, p.startNs), math.min(c.endNs, p.endNs))))
      p.id -> (p.durNs - covered)
    }.toMap
  }
}

/** Records spans around the benchmark's calls into the program, and the
  * Spark-phase counters its own listeners collect. Tracing is switched per
  * iteration: while it is off, `span` only runs its body and no listener
  * is attached. Spans stay in memory until [[writeJsonl]]. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack.empty[Span]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val byId = new ConcurrentHashMap[Long, Span]()
  private var trace = 0L
  private var on = false

  private val sc = spark.sparkContext
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (span, start ms)

  /** Starts a new trace id (one per iteration) and turns tracing on or off. */
  def begin(traced: Boolean): Long = {
    if (traced != on) {
      if (traced) {
        sc.addSparkListener(listener)
        spark.listenerManager.register(qeListener)
      } else {
        Bus.drain(sc)
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(qeListener)
      }
      on = traced
    }
    trace += 1
    trace
  }

  /** Waits until Spark's listener bus has delivered every event so far. */
  def settle(): Unit = if (on) Bus.drain(sc)

  def stop(): Unit = begin(traced = false)

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val parent = if (stack.isEmpty) 0L else stack.top.id
    val sp = new Span(ids.incrementAndGet(), parent, trace, name,
      System.nanoTime(), System.currentTimeMillis())
    spans += sp
    byId.put(sp.id, sp)
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, sp.id.toString)
    val c0 = Jvm.compileNs
    val n0 = Jvm.compiles
    val g0 = Jvm.gcMs
    stack.push(sp)
    try body
    finally {
      stack.pop()
      sp.endNs = System.nanoTime()
      sp.add("codegen.compile_ms", (Jvm.compileNs - c0) / 1e6)
      sp.add("codegen.compiles", (Jvm.compiles - n0).toDouble)
      sp.add("jvm.gc_ms", (Jvm.gcMs - g0).toDouble)
      sc.setLocalProperty(Tracer.SpanKey, prev)
    }
  }

  /** Adds to a counter of the innermost open span. */
  def note(k: String, v: Double): Unit = if (on && stack.nonEmpty) stack.top.add(k, v)

  /** Marks the calls inside `body` as the DataFrame-building part of an op:
    * jobs started there count as `build.jobs`. */
  def building[T](body: => T): T = {
    val prev = sc.getLocalProperty(Tracer.PhaseKey)
    sc.setLocalProperty(Tracer.PhaseKey, "build")
    try body finally sc.setLocalProperty(Tracer.PhaseKey, prev)
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .flatMap(id => Option(byId.get(id.toLong)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { sp =>
        jobStart.put(e.jobId, (sp.id, e.time))
        e.stageIds.foreach(id => stageSpan.put(id, sp.id))
        sp.add("spark.jobs", 1)
        if (Option(e.properties.getProperty(Tracer.PhaseKey)).contains("build"))
          sp.add("build.jobs", 1)
        if (e.stageInfos.exists(_.details.contains("graft.Tables$")))
          sp.add("tables.read_jobs", 1)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (spanId, t0) =>
        Option(byId.get(spanId)).foreach(_.synchronized {
          jobIntervals.getOrElseUpdate(spanId, mutable.ArrayBuffer.empty) += ((t0, e.time))
        })
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageSpan.get(si.stageId)).flatMap(id => Option(byId.get(id))).foreach { sp =>
        sp.synchronized {
          sp.add("spark.stages", 1)
          sp.add("spark.tasks", si.numTasks)
          val m = si.taskMetrics
          if (m != null) {
            sp.add("spark.task_s", m.executorRunTime / 1e3)
            sp.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
            sp.add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
            sp.add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
          }
        }
      }
    }
  }

  /** Job intervals (epoch ms) per span, for `spark.job_ms` as a union. */
  val jobIntervals: mutable.Map[Long, mutable.ArrayBuffer[(Long, Long)]] =
    new ConcurrentHashMap[Long, mutable.ArrayBuffer[(Long, Long)]]().asScala

  /** Catalyst phase times of every finished action, by phase start time. */
  val phases: mutable.ArrayBuffer[(Long, String, Long)] = mutable.ArrayBuffer.empty

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = phases.synchronized {
      qe.tracker.phases.foreach { case (phase, ps) =>
        phases += ((ps.startTimeMs, phase, ps.durationMs))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Per-layer numbers of one trace id: counters summed over its spans,
    * catalyst phases by time window, `spark.job_ms` as the union of job
    * intervals, and per-name span self times in ms. `wallNs` is the
    * iteration's wall time, for `driver.gap_ms`. */
  def summarize(traceId: Long, wallNs: Long): Map[String, Double] = {
    val ts = spans.filter(_.trace == traceId).toSeq
    val out = mutable.LinkedHashMap.empty[String, Double]
    ts.foreach(_.counters.foreach { case (k, v) => out(k) = out.getOrElse(k, 0.0) + v })
    // compile and gc deltas nest: count them once, from the roots
    Seq("codegen.compile_ms", "codegen.compiles", "jvm.gc_ms").foreach { k =>
      out(k) = ts.filter(_.parent == 0).map(_.counters.getOrElse(k, 0.0)).sum
    }
    val jobs = ts.flatMap(sp => jobIntervals.getOrElse(sp.id, Nil))
    val jobMs = Spans.unionLength(jobs).toDouble
    out("spark.job_ms") = jobMs
    out("driver.gap_ms") = wallNs / 1e6 - jobMs
    val roots = ts.filter(_.parent == 0)
    val windows = roots.map(r => (r.startEpochMs, r.startEpochMs + r.durNs / 1000000))
    phases.synchronized {
      Seq("analysis", "optimization", "planning").foreach { p =>
        out(s"catalyst.${p}_ms") = phases.filter { case (t, ph, _) =>
          ph == p && windows.exists { case (a, b) => t >= a && t <= b }
        }.map(_._3.toDouble).sum
      }
    }
    val self = Spans.selfTimes(ts)
    ts.foreach { sp =>
      out(s"${sp.name}_ms") = out.getOrElse(s"${sp.name}_ms", 0.0) + self(sp.id) / 1e6
    }
    out.toMap
  }

  def writeJsonl(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val self = Spans.selfTimes(spans.toSeq)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { sp =>
      val cs = sp.counters.map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString(", ")
      w.println(s"""{"trace": ${sp.trace}, "id": ${sp.id}, "parent": ${sp.parent}, """ +
        s""""name": ${Gen.jsonString(sp.name)}, "start_ns": ${sp.startNs}, "end_ns": ${sp.endNs}, """ +
        s""""self_ms": ${Json.num(self(sp.id) / 1e6)}, "jobs_ms": ${Json.num(
          Spans.unionLength(jobIntervals.getOrElse(sp.id, Nil).toSeq).toDouble)}, "counters": {$cs}}""")
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"
}

/** Process-wide JVM counters the benchmark samples. */
object Jvm {
  import java.lang.management.ManagementFactory

  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  /** Heap in use after full GCs. Spark frees blocks and broadcasts from a
    * cleaner thread that reacts to GC, so collect until the figure settles. */
  def heapUsedMb: Double = {
    def used = { System.gc(); Thread.sleep(200); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var prev = used
    var cur = used
    var rounds = 2
    while (rounds < 8 && math.abs(cur - prev) > prev / 100) { prev = cur; cur = used; rounds += 1 }
    math.min(prev, cur) / 1e6
  }
}

/** Minimal JSON number formatting: every digit, no exponent surprises. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else BigDecimal(v).bigDecimal.stripTrailingZeros.toPlainString
}

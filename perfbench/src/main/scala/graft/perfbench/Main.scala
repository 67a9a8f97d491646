package graft.perfbench

import java.io.File

import scala.collection.mutable

/** The benchmark's JVM entry point (`run.py` builds and launches it).
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --bench-dir <dir> --work <dir> [--corrupt]
  * Main --record-sweep --bench-dir <dir> --work <dir>
  * }}}
  *
  * A run generates (or reuses) the seed's inputs and sets up: it builds the
  * session and registers the extensions K times (keeping the last session),
  * then warms up with `LeadIns` full lead-in iterations. `setup_s` is the
  * median session set-up plus the lead-ins. Then one closed-loop client
  * runs whole timed iterations until `--seconds` have passed and at least the
  * workload's minimum count ran. With `--trace 1` the timed iterations go in
  * traced and untraced blocks. The last stdout line is the result JSON. */
object Main {
  val SpanKeys: Seq[String] = Seq("build.ms", "build.jobs", "tables.read_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compiles", "codegen.compile_ms", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.job_ms", "driver.gap_ms", "spark.task_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb", "jvm.gc_ms")
  val RunKeys: Seq[String] = Seq("trace.iter_s", "trace.untraced_iter_s",
    "trace.overhead_ratio", "checks.ops_failed_ratio", "env.loadavg",
    "env.steal_s", "env.psi_cpu_s", "env.psi_io_s")

  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  def perLayer(ws: Seq[Workload]): Seq[String] =
    SpanKeys ++ RunKeys ++ ws.flatMap(_.spanMetrics).distinct

  val Units: Map[String, String] = Map("setup_s" -> "s", "iter_s" -> "s",
    "op_ms_p50" -> "ms", "op_ms_p90" -> "ms", "cpu_s" -> "s", "heap_retained_mb" -> "MB")

  def unitOf(k: String): String =
    Units.getOrElse(k,
      if (k.endsWith("_ms") || k.endsWith(".ms")) "ms"
      else if (k.endsWith("_s")) "s"
      else if (k.endsWith("_mb")) "MB"
      else if (k.contains("ratio")) "ratio"
      else if (k == "env.loadavg") "load"
      else "count")

  /** Session set-ups per run; `setup_s` takes their median. */
  val Setups = 3

  /** Full lead-in iterations per run before timing: the first fills the
    * codegen cache and any memo, the second lets the JIT catch up. */
  val LeadIns = 2

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val benchDir = new File(arg(args, "--bench-dir").getOrElse("perfbench"))
    val work = new File(arg(args, "--work").getOrElse(".bench_build/work"))
    val workloads = Workloads.all(benchDir)
    if (args.contains("--record-sweep")) {
      RecordSweep.run(benchDir, work)
      return
    }
    val name = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val w = workloads.find(_.name == name).getOrElse(sys.error(s"unknown workload $name"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val cores = Runtime.getRuntime.availableProcessors
    val out = System.out
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    object log {
      def println(msg: String): Unit =
        System.err.println(f"[perfbench +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs] " +
          msg.stripPrefix("[perfbench] "))
    }

    val g0 = System.nanoTime()
    val inputs = w.prepare(new File(work.getParentFile, "data"), seed)
    val genS = (System.nanoTime() - g0) / 1e9
    log.println(f"[perfbench] $name seed=$seed inputs: $inputs (generated in $genS%.2f s)")

    // set-up: the session build and registration, K times (the last
    // session is kept), then the lead-in iterations as the warm-up
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    (1 to Setups).foreach { _ =>
      if (ctx != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      val s = Session.build(cores, work)
      ctx = new Ctx(s, new Tracer(s), work, args.contains("--corrupt"))
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val l0 = System.nanoTime()
    (1 to LeadIns).foreach { _ =>
      try { w.iteration(ctx); w.verify(ctx) } catch {
        case t: Throwable if !t.isInstanceOf[VirtualMachineError] =>
          log.println(s"[perfbench] lead-in failed: $t")
      }
    }
    val leadInS = (System.nanoTime() - l0) / 1e9
    val leadInOps = ctx.ops.size
    log.println(f"[perfbench] session set-ups ${setupTimes.map(t => f"$t%.2f").mkString(" ")} s, " +
      f"$LeadIns lead-ins $leadInS%.2f s; process start to first timed op " +
      f"${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s")

    val walls = mutable.ArrayBuffer.empty[(Boolean, Double)] // (traced, s)
    val cpus = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val envs = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracer = ctx.tracer
    val start = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    // traced runs go in traced/untraced/untraced/traced blocks, so a linear
    // warming trend does not land on one side of the overhead comparison
    def tracedAt(i: Int) = trace && (i % 4 == 0 || i % 4 == 3)
    val minIters = if (trace) 4 else w.minIterations
    while (i < minIters || elapsed < seconds || (trace && i % 4 != 0)) {
      val traced = tracedAt(i)
      val tid = tracer.begin(traced)
      val e0 = EnvProbe.now()
      val c0 = Jvm.cpuNs
      val t0 = System.nanoTime()
      val root = try { tracer.span("iteration")(w.iteration(ctx)); true } catch {
        case t: Throwable if !t.isInstanceOf[VirtualMachineError] =>
          log.println(s"[perfbench] iteration $i failed: $t"); false
      }
      val wall = System.nanoTime() - t0
      val cpu = (Jvm.cpuNs - c0) / 1e9
      val env = EnvProbe.delta(e0, EnvProbe.now())
      if (root) w.verify(ctx)
      walls += ((traced, wall / 1e9))
      cpus += cpu
      envs += env
      log.println(f"[perfbench] iteration $i${if (traced) " (traced)" else ""}: ${wall / 1e9}%.3f s wall, " +
        f"$cpu%.2f s cpu, loadavg ${env("env.loadavg")}%.2f, steal ${env("env.steal_s")}%.2f s, " +
        f"psi cpu ${env("env.psi_cpu_s")}%.2f s, psi io ${env("env.psi_io_s")}%.2f s")
      if (traced) {
        tracer.settle()
        var layer = tracer.summarize(tid, wall)
        val pass = tracer.begin(traced = true)
        w.afterTraced(ctx)
        tracer.settle()
        layer ++= tracer.summarize(pass, 0).filter { case (k, _) => w.spanMetrics.contains(k) }
        layers += layer ++ w.derive(layer)
      }
      i += 1
    }
    tracer.stop()
    val heapMb = Jvm.heapUsedMb
    if (trace) tracer.writeJsonl(new File(work.getParentFile, s"traces/$name-seed$seed.jsonl"))
    ctx.spark.stop()
    log.println("session stopped")

    val allOps = ctx.ops.toSeq
    val ops = allOps.drop(leadInOps)
    val failed = allOps.count(!_.ok)
    val attempted = math.max(1, allOps.size)
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!trace) {
      val opMs = ops.map(_.ms)
      metrics("setup_s") = Stats.median(setupTimes.toSeq) + leadInS
      metrics("iter_s") = Stats.median(walls.map(_._2).toSeq)
      metrics("op_ms_p50") = Stats.percentile(opMs, 50)
      metrics("op_ms_p90") = Stats.percentile(opMs, 90)
      metrics("cpu_s") = Stats.median(cpus.toSeq)
      metrics("heap_retained_mb") = heapMb
    } else {
      val keys = perLayer(workloads)
      keys.foreach { k =>
        val xs = layers.flatMap(_.get(k)).toSeq
        metrics(k) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      metrics("trace.iter_s") = Stats.median(walls.filter(_._1).map(_._2).toSeq)
      metrics("trace.untraced_iter_s") = Stats.median(walls.filterNot(_._1).map(_._2).toSeq)
      metrics("trace.overhead_ratio") = metrics("trace.iter_s") / metrics("trace.untraced_iter_s") - 1
      metrics("checks.ops_failed_ratio") = failed.toDouble / attempted
      Seq("env.loadavg", "env.steal_s", "env.psi_cpu_s", "env.psi_io_s").foreach { k =>
        metrics(k) = Stats.median(envs.map(_(k)).toSeq)
      }
    }

    // the human-readable table, then the result line
    val tail = Stats.tailPercentile(ops.size).map(p => f"p$p%d = ${Stats.percentile(ops.map(_.ms), p)}%.1f ms")
    out.println(f"# $name seed=$seed: $LeadIns lead-ins + ${walls.size} timed iterations, ${allOps.size} ops, " +
      f"$failed failed (ops_failed_ratio ${failed.toDouble / attempted}%.4f); inputs generated in " +
      f"$genS%.2f s; op tail ${tail.getOrElse("n/a")} over ${ops.size} timed samples")
    metrics.foreach { case (k, v) => out.println(f"#   $k%-34s ${Json.num(v)}%14s ${unitOf(k)}") }
    val body = metrics.map { case (k, v) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "${unitOf(k)}"}"""
    }.mkString(", ")
    out.println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    out.flush()
  }
}

/** Writes `sweep/queries.tsv` (pinned + drawn) and `sweep/expected.tsv`:
  * every listed query runs in two orders in two sessions; a query whose
  * digest differs between them is recorded as row-count-only ("*"). */
object RecordSweep {
  /** Queries drawn beside the pinned ones. */
  val Drawn = 2

  def run(benchDir: File, work: File): Unit = {
    val list = Sweep.draw(Drawn)
    val dir = new File(benchDir, "sweep")
    dir.mkdirs()
    val q = new java.io.PrintWriter(new File(dir, "queries.tsv"), "UTF-8")
    q.println("# query\tregistering module\tpinned|drawn")
    list.foreach(e => q.println(s"${e.name}\t${e.module}\t${if (e.pinned) "pinned" else "drawn"}"))
    q.close()
    val data = new File(benchDir, "data/sf0.001").getAbsolutePath
    val results = Seq(1L, 2L).map { seed =>
      val s = Session.build(Runtime.getRuntime.availableProcessors, work)
      val r = Sweep.permute(list, seed).map { e =>
        val df = graft.SparkEntry.queries(e.name)(s, data)
        val rows = df.collect()
        e.name -> (rows.length.toLong, Digest.of(df.schema, rows.toSeq))
      }.toMap
      s.stop()
      r
    }
    val x = new java.io.PrintWriter(new File(dir, "expected.tsv"), "UTF-8")
    x.println("# query\trows\tdigest (* = not deterministic run to run: row count only)")
    list.foreach { e =>
      val (r1, d1) = results(0)(e.name)
      val (r2, d2) = results(1)(e.name)
      require(r1 == r2, s"${e.name}: row count differs between runs ($r1 vs $r2)")
      x.println(s"${e.name}\t$r1\t${if (d1 == d2) d1 else "*"}")
    }
    x.close()
  }
}

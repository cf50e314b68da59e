package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import perfbench.Main.{Calls, PassOut, Runner}

/** Warm-up, the timed passes and (for the traced run) the per-layer
  * numbers. Produces result.json's text.
  */
class Harness(spark: SparkSession, runner: Runner, out: String, cores: Int, seconds: Double,
              trace: Boolean, warmPasses: Int, minPasses: Int, runId: String,
              launchMs: Long, sessionMs: Long) {

  private val sc = spark.sparkContext
  private val calls = new Calls

  case class PassStat(wall: Double, cpu: Double, shuffleMb: Double, heapPeakMb: Double,
                      gc: Double, out: PassOut, footprint: (Long, Long, Int),
                      threadCpu: Double, processCpu: Double, jit: Double, steal: Double)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Checked passes so far; pass k writes its outputs to <out>/pass-<k>. */
  private var checkedPasses = 0

  private def onePass(dest: String): PassStat = {
    runner.reset()
    System.gc()
    val c0 = Counters.snap(sc)
    val gc0 = Counters.gcSeconds
    Counters.resetHeapPeak()
    val (th0, pr0, jit0, st0) =
      (Counters.threadCpuNs, Counters.processCpuNs, Counters.jitMs, Counters.stealSeconds)
    val t0 = System.nanoTime()
    val o = runner.pass(calls, dest)
    val wall = (System.nanoTime() - t0) / 1e9
    val (th1, pr1, jit1, st1) =
      (Counters.threadCpuNs, Counters.processCpuNs, Counters.jitMs, Counters.stealSeconds)
    val gc = Counters.gcSeconds - gc0
    val heap = Counters.heapPeakMb()
    val c1 = Counters.snap(sc)
    PassStat(wall, (c1.cpuNs - c0.cpuNs) / 1e9, (c1.shuffleBytes - c0.shuffleBytes) / 1048576.0,
      heap, gc, o, runner.footprint, (th1 - th0) / 1e9, (pr1 - pr0) / 1e9, (jit1 - jit0) / 1e3,
      st1 - st0)
  }

  private def checkedPass(): PassStat = {
    checkedPasses += 1
    onePass(s"$out/pass-$checkedPasses")
  }

  /** Passes until `seconds` have elapsed (at least `min`). */
  private def timed(min: Int): Seq[PassStat] = {
    val res = mutable.ArrayBuffer[PassStat]()
    val t0 = System.nanoTime()
    while (res.size < min || (System.nanoTime() - t0) / 1e9 < seconds) res += checkedPass()
    res.toSeq
  }

  def run(): String = {
    // Warm-up: untimed passes that pay class loading, codegen and the JIT
    // (the first pass is 2-5x slower than the rest; the walls are reported).
    val warm = (1 to warmPasses).map(_ => onePass(s"$out/warm").wall)
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0

    val plain = timed(minPasses)
    val traced = if (trace) Some(tracedPasses(plain.size)) else None

    val heapRetained = Counters.heapRetainedMb
    val all = plain ++ traced.map(_._1).getOrElse(Nil)
    val attempted = all.map(_.out.attempted).sum
    val failed = all.map(_.out.failedCalls.size).sum
    val errors = all.flatMap(_.out.errors).distinct.take(20)
    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.6f").mkString("[", ",", "]")
    val sb = new StringBuilder("{\n")
    sb ++= s""""jvm_session_s": ${(sessionMs - launchMs) / 1000.0},\n"""
    sb ++= s""""setup_s": $setupS,\n"""
    sb ++= s""""warm_walls": ${arr(warm)},\n"""
    sb ++= s""""wall_s": ${arr(plain.map(_.wall))},\n"""
    sb ++= s""""task_cpu_s": ${arr(plain.map(_.cpu))},\n"""
    sb ++= s""""shuffle_mb": ${arr(plain.map(_.shuffleMb))},\n"""
    sb ++= s""""heap_peak_mb": ${arr(plain.map(_.heapPeakMb))},\n"""
    sb ++= s""""gc_s": ${arr(plain.map(_.gc))},\n"""
    sb ++= s""""thread_cpu_s": ${arr(plain.map(_.threadCpu))},\n"""
    sb ++= s""""process_cpu_s": ${arr(plain.map(_.processCpu))},\n"""
    sb ++= s""""jit_s": ${arr(plain.map(_.jit))},\n"""
    sb ++= s""""steal_s": ${arr(plain.map(_.steal))},\n"""
    sb ++= s""""ingest_s": ${arr(plain.map(_.out.ingestS))},\n"""
    sb ++= s""""probe_s": ${arr(plain.flatMap(_.out.probeS))},\n"""
    sb ++= s""""index_bytes": ${plain.map(_.footprint._1).mkString("[", ",", "]")},\n"""
    sb ++= s""""index_files": ${plain.map(_.footprint._2).mkString("[", ",", "]")},\n"""
    sb ++= s""""catalog_tables": ${plain.map(_.footprint._3).mkString("[", ",", "]")},\n"""
    sb ++= s""""heap_retained_mb": $heapRetained,\n"""
    // names of the failed calls of each checked pass, in pass order
    val failedCalls = all.map(_.out.failedCalls.distinct.map(Main.quote).mkString("[", ",", "]"))
    sb ++= s""""failed_calls": ${failedCalls.mkString("[", ",", "]")},\n"""
    sb ++= s""""attempted": $attempted,\n"failed": $failed,\n"""
    sb ++= s""""errors": ${errors.map(Main.quote).mkString("[", ",", "]")}"""
    traced.foreach { case (passes, layers) =>
      val overhead = median(passes.map(_.wall)) - median(plain.map(_.wall))
      sb ++= s""",\n"trace_overhead_s": $overhead,\n"layers": {"""
      sb ++= layers.map { case (k, v) => s"\n  ${Main.quote(k)}: $v" }.mkString(",")
      sb ++= "}"
    }
    sb ++= "\n}\n"
    sb.toString
  }

  /** `n` passes with tracing on; returns them and the per-layer metrics,
    * each averaged per pass.
    */
  private def tracedPasses(n: Int): (Seq[PassStat], Seq[(String, Double)]) = {
    val tracer = new Tracer(spark, runId)
    calls.tracer = Some(tracer)
    tracer.install()
    val (cg0, cgs0) = PerfbenchBridge.codegen()
    val passSpans = mutable.ArrayBuffer[Span]()
    val passes = (1 to n).map { i =>
      var st: PassStat = null
      tracer.span(s"pass-$i", "pass", "pass") { st = checkedPass() }
      passSpans += tracer.spans.filter(_.kind == "pass").last
      st
    }
    val (cg1, cgs1) = PerfbenchBridge.codegen()
    tracer.remove()
    calls.tracer = None
    tracer.writeSpans(s"$out/spans.jsonl")

    val spans = tracer.spans.toSeq
    val jobs = tracer.jobIntervals.toSeq
    def jobUnionWithin(s: Span): Long =
      Tracer.unionMs(jobs.collect {
        case (a, b, _) if b > s.start && a < s.end => (math.max(a, s.start), math.min(b, s.end))
      })
    val np = n.toDouble
    val mb = 1048576.0
    val m = mutable.LinkedHashMap[String, Double]()
    for (layer <- Main.Layers) {
      val ls = spans.filter(_.layer == layer)
      def dur(kind: String) = ls.filter(_.kind == kind).map(s => s.end - s.start).sum / 1000.0
      val callSpans = ls.filter(_.kind == "call")
      val w = ls.flatMap(s => tracer.work.get(s.id))
      def sum(f: Work => Long) = w.map(f).sum.toDouble
      m(s"$layer.construct_s") = dur("construct") / np
      m(s"$layer.execute_s") = dur("execute") / np
      m(s"$layer.wall_s") = dur("call") / np
      m(s"$layer.driver_s") =
        callSpans.map(s => (s.end - s.start) - jobUnionWithin(s)).sum / 1000.0 / np
      m(s"$layer.jobs") = sum(_.jobs) / np
      m(s"$layer.task_cpu_s") = sum(_.cpuNs) / 1e9 / np
      m(s"$layer.task_wait_s") = sum(_.waitMs) / 1000.0 / np
      m(s"$layer.gc_s") = sum(_.gcMs) / 1000.0 / np
      m(s"$layer.shuffle_mb") = sum(_.shuffleBytes) / mb / np
      m(s"$layer.spill_mb") = sum(_.spillBytes) / mb / np
      m(s"$layer.result_mb") = sum(_.resultBytes) / mb / np
      m(s"$layer.failed_tasks") = sum(_.failedTasks) / np
    }
    val allWork = tracer.work.values.toSeq
    def total(f: Work => Long) = allWork.map(f).sum.toDouble
    val outFiles =
      runner.checked.map(o => Main.du(new File(s"$out/pass-$checkedPasses/${o.name}"))._2).sum
    m("sources.read_mb") = total(_.readBytes) / mb / np
    m("sources.read_rows") = total(_.readRows) / np
    m("sources.write_mb") = total(_.writeBytes) / mb / np
    m("sources.files_written") = passes.map(_.footprint._2).sum / np + outFiles
    m("sources.write_amp") =
      if (runner.ingestedBytes == 0) 0.0
      else passes.map(_.footprint._1).sum / np / runner.ingestedBytes
    val passWall = passSpans.map(s => s.end - s.start).sum
    val jobUnion = passSpans.map(jobUnionWithin).sum
    m("ops.core_busy") = total(_.runMs) / (passWall.toDouble * cores)
    m("ops.job_overlap") =
      if (jobUnion == 0) 0.0 else jobs.map { case (a, b, _) => b - a }.sum.toDouble / jobUnion
    m("ops.driver_s") = (passWall - jobUnion) / 1000.0 / np
    m("ops.jobs") = jobs.size / np
    m("ops.unattributed_jobs") = tracer.work.get(0).map(_.jobs).getOrElse(0L) / np
    m("spark.plan_s") = tracer.planNs / 1e9 / np
    m("spark.codegen_compiles") = (cg1 - cg0) / np
    m("spark.codegen_s") = (cgs1 - cgs0) / np
    val probeSpans = spans.filter(s => s.layer == "operators.index" && s.kind == "call" &&
      s.name.endsWith("_probe"))
    val probeRowsRead = probeSpans.flatMap(s => spans.filter(_.parent == s.id).map(_.id) :+ s.id)
      .flatMap(tracer.work.get).map(_.readRows).sum
    val hits = passes.map(_.out.hits).sum
    m("operators.index.rows_read_per_hit") =
      if (hits == 0) 0.0 else probeRowsRead.toDouble / hits
    (passes, m.toSeq)
  }
}


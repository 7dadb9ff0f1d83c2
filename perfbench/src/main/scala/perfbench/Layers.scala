package perfbench

import scala.collection.mutable

/** Per-layer numbers for one traced pass: additive counters summed over the
  * pass's units, plus the few ratios that need the whole pass. Layer names
  * follow the repository's modules: `engine` (graft.Engine and the Spark
  * execution it configures), `plans` (graft.plans: the GraftExtensions rules
  * and codegen kernels, plus the Catalyst phases), `operators`
  * (graft.operators through SparkEntry.queries), `tables` (graft.Tables and
  * graft.sources, reads and persisted artifacts) and `streaming`
  * (graft.streaming.StreamingOps). */
final class Layers(cores: Int) {
  val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val skews = mutable.ArrayBuffer.empty[Double]
  private val recon = mutable.ArrayBuffer.empty[Double]
  private var wallMs, cpuNs = 0.0
  /** One span record per unit, written to the run's trace file. */
  val units = mutable.ArrayBuffer.empty[Json]

  private def add(k: String, v: Double): Unit = sums(k) = sums(k) + v
  private def add(k: String, v: Long): Unit = add(k, v.toDouble)

  /** One unit of work: `key` spans the whole unit, `call` the operator call
    * that builds the plan (null when the unit has none), `action` the rest. */
  def addUnit(name: String, b: Bucket, key: Span, call: Span, leaked: Int): Unit = {
    val jobsU = Span.unionMs(b.jobs.toSeq)
    val phaseSpans = b.phases.map(_._2).toSeq
    val phasesOnly = Span.minus(phaseSpans, b.jobs.toSeq)
    val action = if (call == null) key else Span(call.end, key.end)
    def selfOf(s: Span): Long = s.ms - Span.coveredMs(s, b.jobs.toSeq) - Span.coveredMs(s, phasesOnly)
    val opsSelf = if (call == null) 0L else selfOf(call)
    val plansSelf = Span.unionMs(phasesOnly)
    val engineSelf = jobsU + selfOf(action)
    wallMs += key.ms
    cpuNs += b.taskCpuNs
    if (key.ms > 0)
      recon += math.abs(opsSelf + plansSelf + engineSelf - key.ms).toDouble / key.ms
    def rel(s: Span) = new Json().num("start_ms", (s.start - key.start).toDouble)
      .num("end_ms", (s.end - key.start).toDouble)
    units += new Json().str("unit", name).num("start_epoch_ms", key.start.toDouble)
      .num("wall_ms", key.ms.toDouble)
      .obj("call", if (call == null) new Json else rel(call))
      .arr("query_phases", b.phases.toSeq.map { case (n, s) => rel(s).str("phase", n) })
      .arr("jobs", b.jobs.toSeq.map(rel))
      .num("stages", b.stages.toDouble).num("tasks", b.tasks.toDouble)
      .num("leaked_persists", leaked.toDouble)
      .obj("self_ms", new Json().num("operators", opsSelf.toDouble)
        .num("plans", plansSelf.toDouble).num("engine", engineSelf.toDouble))

    add("engine.jobs", b.jobs.size)
    add("engine.stages", b.stages)
    add("engine.tasks", b.tasks)
    add("engine.sched_delay_s", b.schedDelayMs / 1e3)
    add("engine.driver_gap_s", (key.ms - Span.coveredMs(key, b.jobs.toSeq)) / 1e3)
    add("engine.task_cpu_s", b.taskCpuNs / 1e9)
    add("engine.gc_s", b.gcMs / 1e3)
    add("engine.shuffle_write_bytes", b.shuffleWrite)
    add("engine.shuffle_read_bytes", b.shuffleRead)
    add("engine.shuffle_fetch_wait_s", b.fetchWaitMs / 1e3)
    add("engine.spill_bytes", b.spill)
    sums("engine.peak_exec_mem_bytes") = math.max(sums("engine.peak_exec_mem_bytes"), b.peakExecMem.toDouble)
    add("engine.broadcast_bytes", b.broadcastBytes)
    add("engine.self_s", engineSelf / 1e3)
    b.stageTaskMs.values.filter(_.size >= 2).foreach { ts =>
      val s = ts.sorted
      val med = s(s.size / 2).toDouble
      if (med > 0) skews += s.last / med
    }

    def phase(name: String) = b.phases.filter(_._1 == name).map(_._2.ms).sum / 1e3
    add("plans.analysis_s", phase("analysis"))
    add("plans.optimization_s", phase("optimization"))
    add("plans.planning_s", phase("planning"))
    add("plans.kernel_stage_s", b.kernelStageMs / 1e3)
    add("plans.kernel_rows", b.kernelRows)
    add("plans.self_s", plansSelf / 1e3)

    add("operators.call_s", if (call == null) 0.0 else call.ms / 1e3)
    add("operators.eager_jobs",
      if (call == null) 0 else b.jobs.count(j => j.start >= call.start && j.start < call.end))
    add("operators.actions", b.actions)
    add("operators.leaked_persists", leaked)
    add("operators.self_s", opsSelf / 1e3)

    add("tables.bytes_read", b.bytesRead)
    add("tables.records_read", b.recordsRead)
    add("tables.scan_s", b.scanRunMs / 1e3)
    add("tables.bytes_written", b.bytesWritten)
    add("tables.files_written", b.filesWritten)
    add("tables.write_s", b.writeNs / 1e9)
  }

  /** The pass's metrics, with the pass-level ratios filled in. */
  def result(artifactBytes: Long, inputBytes: Long): Json = {
    val j = new Json
    sums.foreach { case (k, v) => j.num(k, v) }
    j.num("engine.cpu_util", if (wallMs > 0) cpuNs / 1e6 / (wallMs * cores) else 0.0)
    j.num("engine.task_skew", Stats.median(skews.toSeq))
    j.num("tables.artifact_bytes", artifactBytes.toDouble)
    j.num("tables.write_amp", if (inputBytes > 0) sums("tables.bytes_written") / inputBytes else 0.0)
    j.num("trace.attributed_frac", if (recon.isEmpty) 0.0 else recon.count(_ <= 0.10).toDouble / recon.size)
    j.num("trace.unattributed_frac", Stats.median(recon.toSeq))
    j
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

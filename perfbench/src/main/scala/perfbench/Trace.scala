package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's probe: public Spark listeners registered from the
  * benchmark, never from the program.
  *
  * Spans per op attempt: the op itself (root) → `api.build` (the query
  * function, with the analysis of the DataFrame it returns) → the
  * planning tracker's phases of each action → jobs → stages → tasks,
  * plus `stream.batch` spans from streaming progress events. Events
  * stay in memory; after each traced pass the bus is drained and every
  * event is attributed to the op whose wall-clock window holds it (ops
  * run one at a time, so the windows never overlap).
  *
  * An op's wall time is split into layer self times by a sweep over
  * its window: each millisecond goes to the deepest span covering it
  * (task → exec, job without a running task → sched, streaming batch
  * without a job → stream, planning phase → plan, query function →
  * api). What no span covers is reported as `unattributed`, so the
  * self times add up to the wall time by construction.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobEv]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageEv]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val qes = new ConcurrentLinkedQueue[QeEv]()
  private val batches = new ConcurrentLinkedQueue[BatchEv]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(JobEv(e.jobId, e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      stages.add(StageEv(s.stageId, s.submissionTime.getOrElse(-1L),
        s.completionTime.getOrElse(-1L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks.add(TaskEv(e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.peakExecutionMemory))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(qeEvent(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      qes.add(qeEvent(qe))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(BatchEv(p.id.toString, start, p.batchDuration,
        d.getOrElse("addBatch", 0L), d.getOrElse("queryPlanning", 0L),
        d.getOrElse("walCommit", 0L), d.getOrElse("commitOffsets", 0L),
        p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  private val passes = mutable.ArrayBuffer.empty[PassTrace]
  private var jvmAtStart: JvmSnap = _

  /** Register the listeners for one pass. */
  def start(): Unit = {
    Seq(jobs, stages, tasks, qes, batches).foreach(_.clear())
    jobEnds.clear()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    jvmAtStart = JvmSnap.take()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Drain the bus and unregister; returns the JVM counters' change. */
  private def stop(): JvmSnap = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val jvm = JvmSnap.take().minus(jvmAtStart)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    jvm
  }

  /** End a traced pass and attribute its events to its op attempts. */
  def finish(pass: Int, attempts: Seq[Harness.Attempt]): Unit = {
    val jvm = stop()
    passes += PassTrace(pass, attempts.map(attribute), jvm)
  }

  private def attribute(a: Harness.Attempt): OpTrace = {
    def inWindow(t: Long) = t >= a.startMs && t <= a.endMs
    val opJobs = jobs.asScala.filter(j => inWindow(j.submitMs)).toSeq
      .map(j => j.copy(endMs = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(a.endMs)))
    val stageIds = opJobs.flatMap(_.stageIds).toSet
    val opStages = stages.asScala.filter(s => stageIds.contains(s.id)).toSeq
    val opTasks = tasks.asScala.filter(t => stageIds.contains(t.stage)).toSeq
    val opQes = qes.asScala.filter(q => inWindow(q.anchorMs)).toSeq
    val opBatches = batches.asScala.filter(b => inWindow(b.startMs)).toSeq

    val firstLaunch = opTasks.groupBy(_.stage).map { case (s, ts) => s -> ts.map(_.launchMs).min }
    val taskWaitMs = opStages.filter(_.submitMs > 0).map { s =>
      firstLaunch.get(s.id).map(l => math.max(0L, l - s.submitMs)).getOrElse(0L)
    }.sum

    // layer self time: deepest covering span wins
    val layers = Seq(
      "exec" -> opTasks.map(t => (t.launchMs, t.finishMs)),
      "sched" -> opJobs.map(j => (j.submitMs, j.endMs)),
      "stream" -> opBatches.map(b => (b.startMs, b.startMs + b.durationMs)),
      "plan" -> (opQes.flatMap(_.phases.values) ++ a.analysis),
      "api" -> Seq((a.buildStartMs, a.buildEndMs)).filter(_._1 > 0))
    val selfMs = sweep(a.startMs, a.endMs, layers)
    val wallMs = a.wallS * 1000
    val attributedMs = selfMs.values.sum.toDouble
    val self = selfMs.map { case (k, v) => k -> v / 1000.0 } +
      ("unattributed" -> math.max(0.0, wallMs - attributedMs) / 1000.0)
    val jobMs = union(opJobs.map(j => (j.submitMs, j.endMs)), a.startMs, a.endMs)

    // the op's span tree: [name, parent, start ms, end ms]
    val root = s"op:${a.pass}:${a.label}"
    val stageJob = opJobs.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    val spans: Seq[Seq[Any]] =
      Seq(Seq(root, "", a.startMs, a.endMs)) ++
      Seq(Seq("api.build", root, a.buildStartMs, a.buildEndMs)).filter(_ => a.buildStartMs > 0) ++
      a.analysis.map { case (s0, s1) => Seq("plan.analysis", "api.build", s0, s1) } ++
      opQes.flatMap(_.phases.map { case (n, (s0, s1)) => Seq(s"plan.$n", root, s0, s1) }) ++
      opJobs.map(j => Seq(s"job:${j.id}", root, j.submitMs, j.endMs)) ++
      opStages.map(st => Seq(s"stage:${st.id}", s"job:${stageJob.getOrElse(st.id, -1)}",
        st.submitMs, st.completeMs)) ++
      opBatches.map(b => Seq("stream.batch", root, b.startMs, b.startMs + b.durationMs))

    def phase(n: String) = (opQes.flatMap(_.phases.get(n)) ++
      (if (n == "analysis") a.analysis else None)).map(p => p._2 - p._1).sum / 1000.0
    OpTrace(a.label, a.pass, a.wallS, self, spans, Map(
      "api.build_s" -> a.buildS,
      "api.eager_jobs" -> opJobs.count(j => a.buildEndMs > 0 && j.submitMs <= a.buildEndMs).toDouble,
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"),
      "plan.graft_rule_s" -> opQes.map(_.ruleNs).sum / 1e9,
      "plan.graft_rule_invocations" -> opQes.map(_.ruleInv).sum.toDouble,
      "plan.graft_rule_effective" -> opQes.map(_.ruleEff).sum.toDouble,
      "plan.exchanges" -> opQes.map(_.exchanges).sum.toDouble,
      "plan.reused_exchanges" -> opQes.map(_.reused).sum.toDouble,
      "plan.broadcasts" -> opQes.map(_.broadcasts).sum.toDouble,
      "plan.op_output_rows" -> opQes.filter(_.joinRows > 0).map(_.outRows).sum.toDouble,
      "plan.join_output_rows" -> opQes.map(_.joinRows).sum.toDouble,
      "sched.jobs" -> opJobs.size.toDouble,
      "sched.stages" -> opStages.size.toDouble,
      "sched.tasks" -> opTasks.size.toDouble,
      "sched.task_wait_s" -> taskWaitMs / 1000.0,
      "sched.driver_gap_s" -> math.max(0.0, wallMs - jobMs) / 1000.0,
      "exec.task_run_s" -> opTasks.map(_.runMs).sum / 1000.0,
      "exec.task_cpu_s" -> opTasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> opTasks.map(_.gcMs).sum / 1000.0,
      "exec.shuffle_write_bytes" -> opTasks.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> opTasks.map(_.shuffleRead).sum.toDouble,
      "exec.fetch_wait_s" -> opTasks.map(_.fetchWaitMs).sum / 1000.0,
      "exec.spill_bytes" -> opTasks.map(_.spill).sum.toDouble,
      "exec.input_rows" -> opTasks.map(_.inputRows).sum.toDouble,
      "exec.peak_mem_bytes" -> (0L +: opTasks.map(_.peakMem)).max.toDouble,
      "stream.batches" -> opBatches.size.toDouble,
      "stream.add_batch_s" -> opBatches.map(_.addBatchMs).sum / 1000.0,
      "stream.query_planning_s" -> opBatches.map(_.planningMs).sum / 1000.0,
      "stream.wal_commit_s" -> opBatches.map(_.walMs).sum / 1000.0,
      "stream.commit_offsets_s" -> opBatches.map(_.commitOffsetsMs).sum / 1000.0,
      "stream.state_commit_s" -> opBatches.map(_.stateCommitMs).sum / 1000.0,
      "stream.state_rows" -> opBatches.groupBy(_.query).values.map(_.map(_.stateRows).max).sum.toDouble,
      "stream.state_mem_bytes" -> opBatches.groupBy(_.query).values.map(_.map(_.stateMem).max).sum.toDouble,
      "stream.gate_fixed_s" ->
        (if (opBatches.isEmpty) 0.0 else math.max(0.0, wallMs - opBatches.map(_.durationMs).sum) / 1000.0)))
  }

  /** Per-layer kernel cost: task CPU of a single-projection noop job over
    * the corpus minus that of the bare scan, per row. Three rounds,
    * medians. */
  def kernelProbes(runner: OpRunner, dataDir: String, deadlineS: Double): Map[String, Double] = {
    import graft.functions.{hashfns, textfns}
    val docs = spark.read.parquet(s"$dataDir/documents.parquet").select(col("text"))
    val rows = docs.count().toDouble
    val probes = Seq(
      "base" -> col("text"),
      "langId" -> textfns.langId(col("text")),
      "qualityScore" -> textfns.qualityScore(col("text")),
      "wsTokenCount" -> textfns.wsTokenCount(col("text")),
      "distinctWordShingles7" -> hashfns.distinctWordShingles(col("text"), 7),
      "minHashSig" -> hashfns.minHashSig(col("text"), 5, 64, 42L))
    val cpu = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    for (round <- 0 until 3; (name, expr) <- probes) {
      start()
      val a = runner.run(s"kernel:$name", -2, deadlineS) { _ =>
        docs.select(expr.as("k")).write.format("noop").mode("overwrite").save()
      }
      stop()
      cpu.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += attribute(a).metrics("exec.task_cpu_s")
    }
    val base = median(cpu("base").toSeq)
    probes.map(_._1).filter(_ != "base").map { n =>
      s"kernel.$n.ns_per_row" -> (median(cpu(n).toSeq) - base) * 1e9 / math.max(rows, 1.0)
    }.toMap + ("kernel.rows" -> rows)
  }

  /** Everything the traced run reports: per-pass totals, the per-op
    * breakdown, and the per-layer metrics (medians over traced measured
    * passes; codegen and JIT from the cold pass, where they land). */
  def report(kernels: Map[String, Double]): Map[String, Any] = {
    val warm = passes.filter(_.index > 1)
    val cold = passes.find(_.index == 0)
    def passSum(p: PassTrace, k: String) = p.ops.map(_.metrics(k)).sum
    def warmMedian(f: PassTrace => Double) =
      if (warm.isEmpty) 0.0 else median(warm.map(f).toSeq)
    val keys = passes.headOption.toSeq.flatMap(_.ops.headOption).flatMap(_.metrics.keys)
      .filterNot(k => k.startsWith("plan.graft_rule_") && k != "plan.graft_rule_s")
      .filterNot(k => k.startsWith("plan.") && k.endsWith("_output_rows"))
    val layerMetrics = mutable.LinkedHashMap.empty[String, Double]
    keys.foreach(k => layerMetrics(k) = warmMedian(p => passSum(p, k)))
    layerMetrics("exec.peak_mem_bytes") = warmMedian(p => (0.0 +: p.ops.map(_.metrics("exec.peak_mem_bytes"))).max)
    layerMetrics("plan.graft_rule_effective_ratio") = warmMedian { p =>
      val inv = passSum(p, "plan.graft_rule_invocations")
      if (inv > 0) passSum(p, "plan.graft_rule_effective") / inv else 0.0
    }
    layerMetrics("exec.join_yield") = warmMedian { p =>
      val j = passSum(p, "plan.join_output_rows")
      if (j > 0) passSum(p, "plan.op_output_rows") / j else 0.0
    }
    layerMetrics("sched.core_util") = warmMedian { p =>
      passSum(p, "exec.task_run_s") / math.max(1e-9, p.ops.map(_.wallS).sum * cores)
    }
    Seq("api", "plan", "sched", "exec", "stream", "unattributed").foreach { l =>
      layerMetrics(s"self.${l}_s") = warmMedian(p => p.ops.map(_.self.getOrElse(l, 0.0)).sum)
    }
    cold.foreach { c =>
      layerMetrics("codegen.compile_s") = c.jvm.compileS
      layerMetrics("codegen.classes") = c.jvm.classes
      layerMetrics("jvm.jit_s") = c.jvm.jitS
      layerMetrics("jvm.gc_s") = c.jvm.gcS
      layerMetrics("jvm.heap_peak_mb") = c.jvm.heapPeakMb
    }
    layerMetrics("trace.pass_s") = warmMedian(_.ops.map(_.wallS).sum)
    layerMetrics ++= kernels
    Map(
      "metrics" -> layerMetrics,
      "ops" -> passes.flatMap(_.ops).map(o => Map(
        "name" -> o.label, "pass" -> o.pass, "wall_s" -> o.wallS,
        "self_s" -> o.self, "metrics" -> o.metrics, "spans" -> o.spans)))
  }
}

object Tracer {
  final case class JobEv(id: Int, submitMs: Long, stageIds: Seq[Int], endMs: Long = -1L)
  final case class StageEv(id: Int, submitMs: Long, completeMs: Long)
  final case class TaskEv(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      fetchWaitMs: Long, spill: Long, inputRows: Long, peakMem: Long)
  final case class QeEv(anchorMs: Long, phases: Map[String, (Long, Long)],
      ruleNs: Long, ruleInv: Long, ruleEff: Long, exchanges: Int, reused: Int,
      broadcasts: Int, outRows: Long, joinRows: Long)
  final case class BatchEv(query: String, startMs: Long, durationMs: Long,
      addBatchMs: Long, planningMs: Long, walMs: Long, commitOffsetsMs: Long,
      stateCommitMs: Long, stateRows: Long, stateMem: Long)
  final case class OpTrace(label: String, pass: Int, wallS: Double,
      self: Map[String, Double], spans: Seq[Seq[Any]], metrics: Map[String, Double])
  final case class PassTrace(index: Int, ops: Seq[OpTrace], jvm: JvmSnap)

  /** JVM-wide counters, differenced over a pass. Codegen compile time is
    * the compile count times the mean of Spark's compile-time histogram
    * (a sampling reservoir, so an estimate). */
  final case class JvmSnap(classes: Double, compileS: Double, jitS: Double,
      gcS: Double, heapPeakMb: Double) {
    def minus(o: JvmSnap): JvmSnap = JvmSnap(classes - o.classes,
      (classes - o.classes) * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1000.0,
      jitS - o.jitS, gcS - o.gcS, heapPeakMb)
  }
  object JvmSnap {
    def take(): JvmSnap = {
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum
      JvmSnap(
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble, 0.0,
        ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0,
        ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0,
        heapPeak / 1048576.0)
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private def rowsOf(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  private def qeEvent(qe: QueryExecution): QeEv = {
    val tracker = qe.tracker
    val phases = tracker.phases.map { case (k, s) => k -> (s.startTimeMs, s.endTimeMs) }
    val rule = tracker.rules.collect {
      case (k, r) if k.contains("SimplifyGraftExpressions") => r
    }
    val plan = qe.executedPlan
    val nodes = PlanWalk.collectWithSubqueries(plan) { case p => p }
    val joins = nodes.filter(_.nodeName.contains("Join"))
    val top = nodes.find(p => p.metrics.contains("numOutputRows"))
    QeEv(
      anchorMs = if (phases.nonEmpty) phases.values.map(_._1).min else System.currentTimeMillis(),
      phases = phases,
      ruleNs = rule.map(_.totalTimeNs).sum,
      ruleInv = rule.map(_.numInvocations).sum,
      ruleEff = rule.map(_.numEffectiveInvocations).sum,
      exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      reused = nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      outRows = top.map(rowsOf).getOrElse(0L),
      joinRows = joins.map(rowsOf).sum)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    c.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time per layer over [lo, hi]: each elementary segment goes to
    * the first layer (in the given priority order) with a span over it. */
  def sweep(lo: Long, hi: Long, layers: Seq[(String, Seq[(Long, Long)])]): Map[String, Long] = {
    val clipped = layers.map { case (n, iv) =>
      n -> iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter { case (a, b) => b > a }
    }
    val points = (clipped.flatMap(_._2.flatMap { case (a, b) => Seq(a, b) }) ++ Seq(lo, hi))
      .distinct.sorted.toArray
    // per layer: active-span count changes at each point
    val deltas = clipped.map { case (_, iv) =>
      val d = mutable.Map.empty[Long, Int].withDefaultValue(0)
      iv.foreach { case (a, b) => d(a) += 1; d(b) -= 1 }
      d
    }
    val active = Array.fill(clipped.size)(0)
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    clipped.foreach { case (n, _) => out(n) = 0L }
    for (i <- 0 until points.length - 1) {
      val p = points(i)
      deltas.indices.foreach(l => active(l) += deltas(l)(p))
      val seg = points(i + 1) - p
      val owner = active.indexWhere(_ > 0)
      if (owner >= 0) out(clipped(owner)._1) += seg
    }
    out.toMap
  }
}

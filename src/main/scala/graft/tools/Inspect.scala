package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkEntry
import graft.api.GraftSession

/** Look inside declared queries (`SparkEntry.queries`) without writing a
  * new tool. Everything goes to stdout, one block per query, under the
  * same `GraftSession.local` configuration Verify and Bench run.
  *
  * Modes:
  *  - `plan`: the formatted explain before execution. Under AQE this
  *    is the initial adaptive plan (`isFinalPlan=false`).
  *  - `final`: runs the query's own `QueryExecution`, then prints its
  *    executed plan — the final AQE plan (`isFinalPlan=true`), with
  *    the runtime rewrites (exchange reuse, coalesced shuffle reads,
  *    join-strategy switches) the pre-execution plan cannot show. A
  *    write (even to `noop`) would run a NEW `QueryExecution` and leave
  *    the query's own plan unexecuted.
  *  - `show`: the query's rows, tab-separated under a header line.
  *  - `profile`: one JSON line per query: build and execution wall
  *    time, the planning tracker's phases (analysis, optimization,
  *    planning), and the jobs and stages the query started — building
  *    it included — with each stage's wall time, tasks, shuffle
  *    read/write bytes and spill. The first query of a run also pays
  *    the JVM's warmup (class loading, JIT); name a query twice to see
  *    its warm numbers.
  *
  * Usage: runMain graft.tools.Inspect <plan|final|show|profile> <sfDir> <query...>
  */
object Inspect {
  private val Modes = Seq("plan", "final", "show", "profile")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Modes.contains(args(0)),
      s"usage: Inspect <${Modes.mkString("|")}> <sfDir> <query> [<query>...]")
    val (mode, sfDir, names) = (args(0), args(1), args.drop(2).toSeq)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"Inspect: unknown query names: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(appName = "graft-inspect")
    try names.foreach(n => println(render(spark, mode, sfDir, n)))
    finally spark.stop()
  }

  /** The text `main` prints for one query in one mode. */
  def render(spark: SparkSession, mode: String, sfDir: String, name: String): String = {
    def query = SparkEntry.queries(name)(spark, sfDir)
    mode match {
      case "plan" =>
        s"== $name ==\n" + query.queryExecution.explainString(FormattedMode)
      case "final" => s"== $name ==\n" + finalPlan(query)
      case "show" => s"== $name ==\n" + rows(query)
      case "profile" => profile(spark, name)(query)
      case other => throw new IllegalArgumentException(
        s"Inspect: unknown mode '$other' (want ${Modes.mkString("|")})")
    }
  }

  /** Run `df`'s own query execution to completion and return its
    * executed plan, which AQE has by then re-planned into its final
    * form. */
  def finalPlan(df: DataFrame): String = {
    val qe = df.queryExecution
    qe.executedPlan.execute().foreach(_ => ())
    qe.executedPlan.toString
  }

  private def rows(df: DataFrame): String =
    (df.columns.mkString("\t") +: df.collect().toSeq.map(_.mkString("\t")))
      .mkString("\n")

  private final case class Stage(id: Int, attempt: Int, wallMs: Long, tasks: Int,
                                 shuffleRead: Long, shuffleWrite: Long, spill: Long)

  /** Records the jobs and completed stages posted while it is attached. */
  private final class Recorder extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new ConcurrentLinkedQueue[Stage]()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val wall = (for (a <- s.submissionTime; b <- s.completionTime) yield b - a)
        .getOrElse(0L)
      stages.add(if (m == null) Stage(s.stageId, s.attemptNumber(), wall, s.numTasks, 0, 0, 0)
        else Stage(s.stageId, s.attemptNumber(), wall, s.numTasks,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** Build the query, run its own query execution, and report where the
    * time and bytes went as one JSON object on one line. */
  def profile(spark: SparkSession, name: String)(build: => DataFrame): String = {
    val rec = new Recorder
    Bridge.drainListenerBus(spark) // earlier work must not be counted
    spark.sparkContext.addSparkListener(rec)
    val t0 = System.nanoTime()
    val (qe, t1, t2) = try {
      val qe = build.queryExecution
      val t1 = System.nanoTime()
      qe.executedPlan.execute().foreach(_ => ())
      (qe, t1, System.nanoTime())
    } finally {
      Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(rec)
    }
    val stages = rec.stages.asScala.toSeq.sortBy(s => (s.id, s.attempt))
    def secs(ns: Long) = "%.4f".formatLocal(java.util.Locale.ROOT, ns / 1e9)
    val phases = Seq("analysis", "optimization", "planning").map { p =>
      s""""$p":${qe.tracker.phases.get(p).map(s => secs(s.durationMs * 1000000L)).getOrElse("null")}"""
    }.mkString("{", ",", "}")
    val stageJson = stages.map { s =>
      s"""{"stage":${s.id},"attempt":${s.attempt},"wall_s":${secs(s.wallMs * 1000000L)},""" +
        s""""tasks":${s.tasks},"shuffle_read_bytes":${s.shuffleRead},""" +
        s""""shuffle_write_bytes":${s.shuffleWrite},"spill_bytes":${s.spill}}"""
    }.mkString("[", ",", "]")
    s"""{"query":"$name","build_s":${secs(t1 - t0)},"exec_s":${secs(t2 - t1)},""" +
      s""""phases":$phases,"jobs":${rec.jobs.get},"stages":${stages.size},""" +
      s""""shuffle_read_bytes":${stages.map(_.shuffleRead).sum},""" +
      s""""shuffle_write_bytes":${stages.map(_.shuffleWrite).sum},""" +
      s""""spill_bytes":${stages.map(_.spill).sum},"stage_list":$stageJson}"""
  }
}

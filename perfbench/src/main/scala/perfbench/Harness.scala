package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM.
  *
  * It builds the session with the production factory
  * (`GraftSession.local`), runs a cold pass, one settling pass, and then
  * the measured passes over the workload's ops, one op at a time (in a
  * seed-drawn order per pass), and
  * finally writes every op's result once more for the correctness check
  * done by the caller. Each op is `SparkEntry.queries(name)(spark, dir)`
  * followed by a `noop` write that materializes every row.
  *
  * Arguments are `key=value` pairs (see [[Conf.parse]]); the outcome is
  * written as JSON to `<out>/result.json`.
  */
object Harness {

  final case class Conf(
      workload: String, dataDir: String, outDir: String, ops: Seq[String],
      seed: Long, measuredPasses: Int, trace: Boolean, cores: Int,
      opDeadlineS: Double, runDeadlineS: Double)

  object Conf {
    def parse(args: Array[String]): Conf = {
      val kv = args.map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"argument '$a' is not key=value")
        a.take(i) -> a.drop(i + 1)
      }.toMap
      Conf(
        workload = kv("workload"), dataDir = kv("data"), outDir = kv("out"),
        ops = kv("ops").split(',').toSeq.filter(_.nonEmpty),
        seed = kv("seed").toLong, measuredPasses = kv("measured_passes").toInt,
        trace = kv("trace") == "1", cores = kv("cores").toInt,
        opDeadlineS = kv("op_deadline_s").toDouble,
        runDeadlineS = kv("run_deadline_s").toDouble)
    }
  }

  /** One pass; `cpuS` is the process CPU time it used (steal time on a
    * shared host inflates wall time, not CPU time). */
  final case class Pass(index: Int, traced: Boolean, attempts: Seq[Attempt], cpuS: Double) {
    def wallS: Double = attempts.map(_.wallS).sum
  }

  /** One op attempt. Clock fields are epoch milliseconds (the clock the
    * Spark listener events use); `wallS` and `buildS` are nanoTime-exact. */
  final case class Attempt(
      label: String, pass: Int, startMs: Long, endMs: Long,
      buildStartMs: Long, buildEndMs: Long, wallS: Double, buildS: Double,
      analysis: Option[(Long, Long)], error: Option[String])

  def main(args: Array[String]): Unit =
    try run(Conf.parse(args))
    catch {
      case t: Throwable =>
        t.printStackTrace()
        // Spark's non-daemon threads would otherwise keep the JVM alive
        Runtime.getRuntime.halt(1)
    }

  private def run(conf: Conf): Unit = {
    val spark = graft.api.GraftSession.local(conf.cores, "perfbench")
    val readyUs = Json.epochMicros()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val runDeadlineMs = jvmStartMs + (conf.runDeadlineS * 1000).toLong
    val unknown = conf.ops.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(", ")}")
    val runner = new OpRunner(spark, runDeadlineMs)
    val tracer = if (conf.trace) Some(new Tracer(spark, conf.cores)) else None
    val rng = new scala.util.Random(conf.seed)

    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def runPass(index: Int, traced: Boolean): Pass = {
      val order = rng.shuffle(conf.ops)
      if (traced) tracer.foreach(_.start())
      val cpu0 = os.getProcessCpuTime
      val attempts = order.map { name =>
        val fn = graft.SparkEntry.queries(name)
        runner.run(name, index, conf.opDeadlineS) { t =>
          t.buildStart()
          val df = fn(spark, conf.dataDir)
          t.buildEnd()
          // the final DataFrame's own analysis ran inside the query function
          if (conf.trace) t.analysis = df.queryExecution.tracker.phases.get("analysis")
            .map(p => (p.startTimeMs, p.endTimeMs))
          df.write.format("noop").mode("overwrite").save()
        }
      }
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      if (traced) tracer.foreach(_.finish(index, attempts))
      Pass(index, traced, attempts, cpuS)
    }

    // pass 0 is the cold pass; pass 1 lets the JIT settle and is not
    // measured; then a fixed number of measured passes, so every run
    // samples the same stretch of the JIT's warm-up
    val passes = ArrayBuffer(runPass(0, traced = conf.trace), runPass(1, traced = false))
    val windowStartNs = System.nanoTime()
    for (m <- 1 to conf.measuredPasses
         if System.currentTimeMillis() + (passes.last.wallS * 1000).toLong < runDeadlineMs) {
      // a traced run alternates traced and untraced measured passes in an
      // ABBA pattern (T U U T ...), so the same run measures the tracing
      // overhead without warm-up drift favouring either side
      passes += runPass(m + 1, traced = conf.trace && (m % 4 == 1 || m % 4 == 0))
    }
    val windowS = (System.nanoTime() - windowStartNs) / 1e9

    val kernels = tracer.map(_.kernelProbes(runner, conf.dataDir, conf.opDeadlineS))

    // correctness outputs, outside the timed passes: oracle ops once,
    // ops without an oracle twice (their two results must agree)
    val oracle = graft.SparkEntry.oracleSql
    val checks = conf.ops.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val copies = if (oracle.contains(name)) Seq("a") else Seq("a", "b")
      val written = copies.map { c =>
        val path = s"${conf.outDir}/check/$name/$c"
        path -> runner.run(s"check:$name", -1, conf.opDeadlineS) { _ =>
          fn(spark, conf.dataDir).write.mode("overwrite").parquet(path)
        }
      }
      name -> written
    }

    val sparkConf = spark.conf.getAll
    val result = Json(Map(
      "workload" -> conf.workload,
      "ready_epoch_us" -> readyUs,
      "cores" -> conf.cores,
      "window_s" -> windowS,
      "spark_conf" -> sparkConf,
      "passes" -> passes.map(p => Map(
        "index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wallS,
        "cpu_s" -> p.cpuS, "ops" -> p.attempts.map(attemptJson))),
      "checks" -> checks.map { case (name, written) => Map(
        "name" -> name, "paths" -> written.map(_._1),
        "oracle_sql" -> oracle.get(name)) },
      "check_attempts" -> checks.flatMap(_._2.map(w => attemptJson(w._2))),
      "trace" -> tracer.map(_.report(kernels.getOrElse(Map.empty)))))
    Files.writeString(Paths.get(conf.outDir, "result.json"), result)
    // the caller removes the scratch directory; skipping the orderly
    // shutdown keeps the run short
    Runtime.getRuntime.halt(0)
  }

  private def attemptJson(a: Attempt): Map[String, Any] = Map(
    "name" -> a.label, "wall_s" -> a.wallS, "build_s" -> a.buildS,
    "error" -> a.error)
}

/** Runs each op on its own thread in its own job group, under a
  * deadline. An op past its deadline has its job group cancelled and
  * every active streaming query stopped, and is recorded as failed. */
final class OpRunner(spark: SparkSession, runDeadlineMs: Long) {
  private var seq = 0

  final class Timer {
    @volatile var buildStartMs = 0L
    @volatile var buildEndMs = 0L
    @volatile var buildStartNs = 0L
    @volatile var buildEndNs = 0L
    @volatile var analysis: Option[(Long, Long)] = None
    def buildStart(): Unit = {
      buildStartMs = System.currentTimeMillis(); buildStartNs = System.nanoTime()
    }
    def buildEnd(): Unit = {
      buildEndMs = System.currentTimeMillis(); buildEndNs = System.nanoTime()
    }
  }

  def run(label: String, pass: Int, deadlineS: Double)(body: Timer => Unit): Harness.Attempt = {
    seq += 1
    val group = s"perfbench-$seq"
    val sc = spark.sparkContext
    val timer = new Timer
    @volatile var failure: Option[Throwable] = None
    val thread = new Thread(() => {
      sc.setJobGroup(group, label, interruptOnCancel = true)
      try body(timer)
      catch { case t: Throwable => failure = Some(t) }
      finally sc.clearJobGroup()
    }, s"perfbench-op-$seq")
    thread.setDaemon(true)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val budgetMs = math.max(1L, math.min((deadlineS * 1000).toLong, runDeadlineMs - startMs))
    thread.start()
    thread.join(budgetMs)
    val timedOut = thread.isAlive
    if (timedOut) {
      sc.cancelJobGroup(group)
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      thread.interrupt()
      thread.join(10000)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val error =
      if (timedOut) Some(s"deadline of ${budgetMs / 1000.0} s passed; cancelled")
      else failure.map(t => s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("")}".take(500))
    val buildS = if (timer.buildEndNs > 0) (timer.buildEndNs - timer.buildStartNs) / 1e9 else 0.0
    Harness.Attempt(label, pass, startMs, endMs,
      timer.buildStartMs, timer.buildEndMs, wallS, buildS, timer.analysis, error)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def epochMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Setup-only run: builds the session with the production factory and
  * prints when it was ready, so the caller can time process start to
  * a usable session in a JVM that has done nothing else. */
object SetupProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.api.GraftSession.local(args(0).toInt, "perfbench-setup")
    println(s"ready_epoch_us=${Json.epochMicros()}")
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
